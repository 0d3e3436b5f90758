package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text analytics (SURVEY.md §2b text analysis): TF-IDF and
  * related term statistics over a documents table.
  *
  * Scale shape: one explode + two hash aggregates (term frequencies per
  * doc, document frequencies per term) and a broadcast-joinable term
  * dictionary — no crossJoin, no driver collect. The doc count N is a
  * scalar aggregate joined in (Catalyst plans it as a 1-row broadcast).
  */
object TextAnalytics {

  /** Term frequencies per (doc, term) — raw counts, not distinct. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** TF-IDF per (doc, term): tf * ln(N / df) with df = #docs containing the
    * term. Returns all (doc, term) rows; use [[topTerms]] to bound output. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tf_idf"))
  }

  /** BM25 ranked retrieval for a literal query-term set: the standard
    * lexical relevance score
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))`, with the customary k1 = 1.2 and
    * b = 0.75. Top-k by the 6dp-rounded score
    * (id tiebreak) so cross-engine double ulps cannot flip the ranking.
    *
    * Scale shape: term frequencies are filtered to the query's terms
    * BEFORE any shuffle (the explode feeds a filter, so only matching
    * (doc, term) rows aggregate); doc-length and corpus stats are one
    * aggregate each, joined back as broadcasts. No full-vocabulary state
    * anywhere — cost ∝ documents containing query terms. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val k1 = 1.2
    val b = 0.75
    val tf = termFrequencies(docs, idCol, textCol)
      .filter(col("term").isin(queryTerms.map(lit): _*))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val lengths = docs.select(col(idCol),
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("double").as("dl"))
    val corpus = lengths.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val contrib = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(lengths, Seq(idCol))
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("c",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
    // orderBy().limit plans TakeOrdered (per-partition top-k + merge) — a
    // global row_number window would funnel every matching doc into one task
    contrib.groupBy(col(idCol))
      .agg(round(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (public: Zhai &
    * Lafferty SIGIR'01 — the LM retrieval model, completing the
    * TF-IDF/BM25/QL scoring trio): score(d) = Σ_{w∈q}
    * ln((tf_{w,d} + μ·p(w|C))/(|d| + μ)) with the collection model
    * p(w|C) = cf_w/T. Unlike BM25, ABSENT query terms still contribute
    * (the smoothed mass μ·p/(|d|+μ)) — long documents aren't rewarded
    * for merely mentioning everything. μ defaults to 2048 (DYADIC, so
    * μ·p(w|C) is a correctly-rounded single product in any engine);
    * query terms absent from the whole corpus have p(w|C) = 0 = ln 0
    * and are DROPPED (inner join), documented rather than pseudo-counted.
    *
    * Scale shape: the same two wordcount aggregates a BM25 pass pays
    * (per-doc tf for query terms; collection frequencies), a 1-row
    * total broadcast, a #query-terms × docs grid from a broadcast
    * cross join, and TakeOrdered — no window, no global sort. */
  def queryLikelihood(docs: DataFrame, idCol: String, textCol: String,
                      queryTerms: Seq[String], k: Int,
                      mu: Double = 2048.0): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "need queryTerms and k > 0")
    require(mu > 0, s"mu must be positive: $mu")
    val toks = docs.select(col(idCol),
      graft.functions.TextFunctions.tokens(col(textCol)).as("__t"))
    val lengths = toks.select(col(idCol), size(col("__t")).cast("double").as("dl"))
    val occ = toks.select(col(idCol), explode(col("__t")).as("term"))
    val total = occ.agg(count(lit(1)).cast("double").as("big_t"))
    val cf = occ.filter(col("term").isin(queryTerms.map(lit): _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tf = occ.filter(col("term").isin(queryTerms.map(lit): _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val grid = lengths.crossJoin(broadcast(cf))
    grid
      .join(tf, Seq(idCol, "term"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__lp",
        log((coalesce(col("tf"), lit(0L)) + lit(mu) * (col("cf") / col("big_t")))
          / (col("dl") + lit(mu))))
      .groupBy(col(idCol))
      .agg(round(sum(col("__lp")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** N-gram novelty curve over ordered ingestion batches: for each
    * batch, the share of its DISTINCT n-grams first seen in that batch
    * (min-batch attribution). The freshness readout of a rolling crawl —
    * a healthy feed decays slowly toward a plateau of genuinely new
    * language; a collapsing curve means the crawl is re-reading itself
    * and marginal data buys no new coverage (the data-age/repetition
    * concern of Muennighoff et al. '23 at the n-gram grain). Returns
    * (batch, n_distinct, n_novel, novelty_rate).
    *
    * Scale shape: wordcount-shaped throughout — distinct (batch, gram)
    * pairs from one explode+distinct, a gram-grain min aggregate, one
    * gram-keyed join back and a batch-grain aggregate; shuffle ∝
    * distinct n-grams, never occurrences. The curve needs no ordering
    * pass: "earlier" is the min() aggregate. */
  def noveltyCurve(docs: DataFrame, batchCol: String, textCol: String,
                   n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be positive: $n")
    val pairs = docs.select(col(batchCol).as("batch"),
        explode(TextFunctions.shinglesOf(
          TextFunctions.tokens(col(textCol)), n)).as("__g"))
      .distinct()
    val first = pairs.groupBy(col("__g")).agg(min(col("batch")).as("__first"))
    pairs.join(first, Seq("__g"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("__first") === col("batch"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("batch"), col("n_distinct"), col("n_novel"),
        round(col("n_novel") / col("n_distinct"), 6).as("novelty_rate"))
  }

  /** Yule's characteristic K (public: Yule 1944, "The Statistical Study
    * of Literary Vocabulary"): K = 10⁴·(Σ_m m²·V_m − N)/N² over the
    * frequency spectrum (V_m = types occurring m times, N = tokens) —
    * the length-insensitive lexical-richness constant. Template-generated
    * or highly repetitive slices score HIGH (mass concentrated in few
    * types); diverse prose sits low — the per-group repetition screen
    * beside [[distinctNgramRatio]], but a single closed-form constant.
    * EXACT integer arithmetic until the one final division.
    *
    * Scale shape: one wordcount aggregate to (group, type) grain, one
    * group aggregate over the spectrum — shuffle ∝ distinct types. */
  def yuleK(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val occ = docs.select(col(groupCol),
      explode(TextFunctions.tokens(col(textCol))).as("__tok"))
    occ.groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__m"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("v_types"),
        sum(col("__m")).as("n_tokens"),
        sum(col("__m") * col("__m")).as("__s2"))
      .select(col(groupCol), col("v_types"), col("n_tokens"),
        round(lit(10000.0) * (col("__s2") - col("n_tokens"))
          / (col("n_tokens") * col("n_tokens")), 6).as("yule_k"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set — the overlap check every serious
    * training corpus runs before an eval score means anything (13-grams is
    * the conventional width; any n works). Returns (id, n_contaminated
    * _shingles = distinct overlapping n-grams); clean documents are absent
    * (anti-join against the result to keep them).
    *
    * Scale shape: the benchmark side is eval suites — thousands of
    * documents against a 100 TB corpus — so its distinct shingle set
    * always broadcasts; the corpus side is one explode + one aggregate,
    * shuffle ∝ matches, not corpus size. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 13): DataFrame = {
    require(n > 0, s"shingle width must be positive: $n")
    // stage the token arrays: shinglesOf's slices would otherwise re-run
    // the tokenizing regex n times per row (and the naive transform
    // formulation per ELEMENT — see TextFunctions.shinglesOf)
    val docShingles = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(TextFunctions.shinglesOf(col("__toks"), n)).as("shingle"))
      .distinct()
    val benchShingles = benchmark
      .select(TextFunctions.tokens(col(benchTextCol)).as("__toks"))
      .select(explode(TextFunctions.shinglesOf(col("__toks"), n)).as("shingle"))
      .distinct()
    docShingles.join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated_shingles"))
  }

  /** Repetition quality signals (the Gopher-rule family): fraction of
    * repeated tokens and the share of the single most frequent word bigram
    * — high values mark boilerplate/spam for the quality filter. Rounded
    * to 6dp before output so the oracle comparison is ulp-stable.
    *
    * Scale shape: token stats are map-side; the bigram mode needs one
    * explode + two aggregates keyed by (doc, bigram) then doc — shuffle
    * ∝ distinct bigrams, no window, no driver state. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("dup_token_frac",
        when(col("n_tokens") > 0,
          round(lit(1.0) -
            size(array_distinct(col("__toks"))).cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)))
    val bigramStats = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col(idCol), explode(TextFunctions.shinglesOf(col("__t"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bg"))
    base.join(bigramStats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("dup_token_frac"),
        round(coalesce(col("top_c").cast("double") / col("n_bg"), lit(0.0)), 6)
          .as("top_bigram_frac"))
  }

  /** Gopher-style composite quality-rule verdict (Rae et al. '21 §A1.1 —
    * the rule FAMILY with thresholds as caller config, since the
    * canonical web-corpus thresholds are corpus-specific): per document,
    * the raw signals (token count, mean word length, duplicate-token
    * fraction, top-bigram share, stopword hits), ONE BOOLEAN PER RULE,
    * and the conjunction `keep`. The per-rule booleans are the
    * debugging surface — a gate that reports only `keep` cannot tell
    * you which rule is eating the corpus, and rule-attrition dashboards
    * are how these filters get tuned in practice. Line-grain Gopher
    * rules (bullet-start / ellipsis-end fractions) need real newlines
    * and are deliberately absent.
    *
    * Mean word length is non-whitespace chars over tokens (identical
    * arithmetic cross-engine); every comparison runs on 6dp-rounded
    * signals so an engine ulp cannot flip a verdict.
    *
    * Scale shape: reuses [[repetitionSignals]] (token stats map-side,
    * one (doc, bigram) aggregate — shuffle ∝ distinct bigrams) plus one
    * map-side projection and a doc-keyed join; no windows. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minTokens: Long = 50L, maxTokens: Long = 100000L,
                  minMeanWordLen: Double = 3.0,
                  maxMeanWordLen: Double = 10.0,
                  maxDupTokenFrac: Double = 0.6,
                  maxTopBigramFrac: Double = 0.2,
                  minStopwords: Long = 2L): DataFrame = {
    val rep = repetitionSignals(docs, idCol, textCol)
    val base = docs.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"),
        trim(col(textCol)).as("__t"))
      .select(col(idCol),
        length(regexp_replace(col("__t"), "\\s+", ""))
          .cast("double").as("__chars"),
        size(filter(col("__toks"),
          t => t.isin(TextFunctions.stopwords.map(lit): _*)))
          .cast("long").as("n_stopwords"))
    rep.join(base, Seq(idCol))
      .withColumn("mean_word_len",
        round(when(col("n_tokens") > 0, col("__chars") / col("n_tokens"))
          .otherwise(lit(0.0)), 6))
      .withColumn("r_word_count",
        col("n_tokens").between(minTokens, maxTokens))
      .withColumn("r_mean_word_len",
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen))
      .withColumn("r_repetition", col("dup_token_frac") <= maxDupTokenFrac)
      .withColumn("r_top_bigram",
        col("top_bigram_frac") <= maxTopBigramFrac)
      .withColumn("r_stopwords", col("n_stopwords") >= minStopwords)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_repetition") && col("r_top_bigram") && col("r_stopwords"))
      .select(col(idCol), col("n_tokens"), col("mean_word_len"),
        col("dup_token_frac"), col("top_bigram_frac"), col("n_stopwords"),
        col("r_word_count"), col("r_mean_word_len"), col("r_repetition"),
        col("r_top_bigram"), col("r_stopwords"), col("keep"))
  }

  /** Boilerplate-prefix audit (the RefinedWeb/C4 curation concern:
    * template headers — cookie banners, nav bars, license stanzas —
    * repeated verbatim at the top of many documents from one source):
    * per group, the `topN` most frequent leading-`k`-token prefixes with
    * the share of the group's docs carrying each. A prefix owning a
    * large share IS the boilerplate to strip; a flat profile clears the
    * source. Docs shorter than `k` tokens contribute their full (shorter)
    * prefix; empty docs are excluded (no prefix to audit).
    *
    * Scale shape: one map-side prefix projection (slice of the token
    * array — no explode, one row per doc), one (group, prefix) hash
    * aggregate, a group-sized doc-count join, and a per-group top-N
    * window over the AGGREGATED prefix table (bounded by distinct
    * prefixes, not docs; the row_number≤N shape the GroupTopK rewrite
    * turns into partial heaps). */
  def boilerplatePrefixes(docs: DataFrame, groupCol: String, textCol: String,
                          k: Int, topN: Int): DataFrame = {
    require(k >= 1 && topN >= 1, s"need k/topN >= 1: $k/$topN")
    val toks = docs.select(col(groupCol),
      TextFunctions.tokens(col(textCol)).as("__t"))
    val prefixes = toks.filter(size(col("__t")) >= 1)
      .select(col(groupCol),
        concat_ws(" ", slice(col("__t"), 1, k)).as("prefix"))
    val counts = prefixes.groupBy(col(groupCol), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = prefixes.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__tot"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n_docs").desc, col("prefix").asc)
    counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .join(totals, Seq(groupCol))
      .select(col(groupCol), col("rank").cast("long").as("rank"),
        col("prefix"), col("n_docs"),
        round(col("n_docs") / col("__tot"), 6).as("doc_share"))
  }

  /** Corpus-level distinct-n diversity (the distinct-1/2/3 metric of Li
    * et al., NAACL'16, computed per group): for each n, distinct n-grams
    * across the WHOLE group over total n-gram occurrences. Low values
    * flag template-generated or self-repetitive slices — the standard
    * acceptance gate for synthetic/model-generated training data, and the
    * corpus-level complement to [[repetitionSignals]]'s per-document view.
    *
    * Scale shape: wordcount-shaped — one explode per n, then a single
    * (group, n, gram)-keyed count collapsed to (group, n): map-side
    * combine does the heavy dedup; shuffle ∝ distinct n-grams, no
    * window, no driver state. The n-gram column is staged once per n so
    * the slice lambda in [[TextFunctions.shinglesOf]] doesn't re-tokenize
    * per element. */
  def distinctNgramRatio(docs: DataFrame, groupCol: String, textCol: String,
                         ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 5),
      s"n-gram widths must be within [1, 5]: $ns")
    val toks = docs.select(col(groupCol),
      TextFunctions.tokens(col(textCol)).as("__toks"))
    ns.map { n =>
      toks
        .select(col(groupCol),
          explode(TextFunctions.shinglesOf(col("__toks"), n)).as("__g"))
        .groupBy(col(groupCol), col("__g"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("distinct_ngrams"), sum(col("__c")).as("total_ngrams"))
        .select(col(groupCol), lit(n).as("n"), col("distinct_ngrams"),
          col("total_ngrams"),
          round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 6)
            .as("distinct_ratio"))
    }.reduce(_ unionAll _)
  }

  /** Unigram^0.75 negative-sampling distribution (word2vec lineage:
    * Mikolov et al., NIPS'13 — the ¾-power flattening that keeps rare
    * words drawable): over the top-`topV` tokens by (count desc, token
    * asc), p_neg(t) = cnt^0.75 / Σ cnt^0.75, plus the cumulative share in
    * rank order — exactly the table an alias/roulette sampler consumes
    * for retrieval/embedding training negatives.
    *
    * Scale shape: one wordcount aggregate (map-side combine, shuffle ∝
    * distinct tokens), then a rank window over the DISTINCT-token table
    * (the vocabCoverage cumsum contract — vocab-sized, never corpus-
    * sized) and a topV-row cumulative sum. Portability: pow(c, 0.75) on
    * integer-count doubles + a ≤topV-term normalizer, 6dp-rounded — see
    * PORTABILITY.md. */
  def negativeSamplingTable(docs: DataFrame, textCol: String,
                            topV: Int): DataFrame = {
    require(topV >= 1, s"topV must be positive: $topV")
    val counts = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    val top = counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topV)
    val z = top.agg(sum(pow(col("cnt").cast("double"), 0.75)).as("__z"))
    val p = pow(col("cnt").cast("double"), 0.75) / col("__z")
    val wcum = Window.orderBy(col("cnt").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(z))
      .select(col("rank"), col("token"), col("cnt"),
        round(p, 6).as("p_neg"),
        round(sum(p).over(wcum), 6).as("cum_p"))
  }

  /** Per-document unigram Shannon entropy (nats) and type-token ratio —
    * the lexical-diversity quality signals: near-zero entropy marks
    * keyword-stuffing/boilerplate, entropy ≈ ln(n_tokens) marks fully
    * distinct text. entropy = ln(n) − Σ c·ln(c) / n over token counts c.
    *
    * Scale shape: the classic wordcount — one explode + two hash
    * aggregates (both with map-side partial combine), shuffle ∝ distinct
    * (doc, token) pairs then docs; no window, no driver state. Token-less
    * documents (blank text) have no rows here, matching the tokenizer's
    * empty-array contract. */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(log(sum(col("c"))) -
          sum(col("c").cast("double") * log(col("c"))) / sum(col("c")), 6)
          .as("entropy"),
        round(count(lit(1)).cast("double") / sum(col("c")), 6)
          .as("type_token_ratio"))

  /** Per-source Hill-number diversity profile (Hill, Ecology '73; the
    * ecology-standard "effective number of species" at orders q=0,1,2)
    * over unigram frequencies: hill_0 = S (richness: distinct types),
    * hill_1 = exp(Shannon H) (perplexity: effective vocab weighting
    * types by use), hill_2 = 1/Σp² (inverse Simpson: effective vocab
    * dominated by the head), plus Pielou evenness J = H/ln S ∈ (0,1].
    * The three-point profile beats any single number: hill_0 ≫ hill_1 ≫
    * hill_2 marks a long-tail corpus riding on few stop-words (dedup the
    * head), all three close marks uniform usage. The per-SOURCE
    * companion to [[tokenEntropy]]'s per-document signal and the
    * diversity face of [[zipfFit]]'s decay slope.
    *
    * Scale shape: the classic wordcount — explode + (source, token) hash
    * aggregate, then a per-source fold; shuffle ∝ distinct (source,
    * token) pairs. hill_2 = N²/Σc² is an exact-integer ratio —
    * deliberately UNROUNDED below the 2^53 exactness bar (N < ~9·10^7
    * tokens per source; round it beyond); the libm-carrying hill_1 and
    * pielou round. */
  def hillDiversity(docs: DataFrame, sourceCol: String, textCol: String): DataFrame =
    docs
      .select(col(sourceCol), explode(TextFunctions.tokens(col(textCol)))
        .as("tok"))
      .groupBy(col(sourceCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(sourceCol))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("hill_0"),
        sum(col("c").cast("double") * log(col("c"))).as("__scl"),
        sum(col("c") * col("c")).as("__sc2"))
      .withColumn("__h", log(col("n_tokens"))
        - col("__scl") / col("n_tokens").cast("double"))
      .select(col(sourceCol), col("n_tokens"), col("hill_0"),
        round(exp(col("__h")), 6).as("hill_1"),
        (col("n_tokens").cast("double") * col("n_tokens").cast("double")
          / col("__sc2").cast("double")).as("hill_2"),
        when(col("hill_0") > 1,
          round(col("__h") / log(col("hill_0")), 6)).as("pielou"))

  /** Per-document mean unigram log-likelihood under the corpus's own
    * add-one-smoothed unigram LM — the cheapest perplexity proxy: documents
    * of common words score high, documents of rare/garbled tokens score
    * low. This is the classic LM-based quality gate run before training
    * (a real pipeline swaps in an external LM's logprobs; the plumbing —
    * token join against a frequency table, per-doc mean — is identical).
    *
    * logp(t) = ln((cnt(t) + 1) / (T + V)), score(d) = mean over d's token
    * OCCURRENCES (so repetition weighs in), T = total occurrences,
    * V = vocabulary size.
    *
    * Scale shape: wordcount aggregate for the LM, then one equi-join of the
    * exploded corpus against the frequency table (both sides shuffled by
    * token — at a 100 TB corpus the frequency table is ≪ corpus and AQE
    * picks a broadcast when it fits), one per-doc aggregate. The (T, V)
    * scalar row enters as a 1-row broadcast. No window, no driver state. */
  def unigramLogLik(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val freqs = occ.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = freqs.agg(sum(col("cnt")).as("t_occ"),
      count(lit(1)).as("v_size"))
    occ
      .join(freqs, Seq("token"))
      .crossJoin(broadcast(totals))
      .withColumn("logp",
        log((col("cnt") + 1).cast("double") / (col("t_occ") + col("v_size"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("logp")), 6).as("mean_loglik"))
  }

  /** Corpus word n-gram counts above a support threshold — the raw
    * statistic behind collocation mining, LM smoothing tables and
    * contamination indexes.
    *
    * Scale shape: one staged tokenization, one explode, ONE map-side-
    * combined hash aggregate; the support filter runs post-aggregate so
    * shuffle ∝ distinct n-grams (Zipf-bounded), not occurrences. */
  def ngramCounts(docs: DataFrame, textCol: String, n: Int,
                  minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    docs.select(TextFunctions.tokens(col(textCol)).as("__t"))
      .select(explode(TextFunctions.shinglesOf(col("__t"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Top-k PMI collocations: bigrams whose observed frequency most exceeds
    * what their parts predict — `pmi = ln(p(ab) / (p(a)·p(b)))` with
    * `p(ab) = c_ab/Σbigrams`, `p(a) = c_a/Σtokens`. High-PMI pairs are
    * multiword units ("new york") a tokenizer/vocab build wants to know
    * about; the `minCount` support floor drops the unstable hapax tail.
    * Ranked on the 6dp-rounded score with a bigram tiebreak so the top-k
    * cut is reproducible across engines.
    *
    * Scale shape: two wordcount aggregates (unigram, bigram — both
    * map-side combined), two equi-joins of the bigram table against the
    * unigram table (vocab-sized, ≪ corpus; AQE broadcasts when it fits),
    * scalar totals enter as 1-row broadcasts, and the top-k is
    * TakeOrdered — no window over the corpus, no driver state. */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
                      k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"minCount=$minCount k=$k must be >= 1")
    val toks = docs.select(TextFunctions.tokens(col(textCol)).as("__t"))
    val uni = toks.select(explode(col("__t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val uniTot = uni.agg(sum(col("c")).as("n_uni"))
    val bi = toks.select(explode(TextFunctions.shinglesOf(col("__t"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val biTot = bi.agg(sum(col("c_ab")).as("n_bi"))
    bi.filter(col("c_ab") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(biTot))
      .crossJoin(broadcast(uniTot))
      .withColumn("pmi", round(
        log((col("c_ab").cast("double") / col("n_bi")) /
          ((col("c1").cast("double") / col("n_uni")) *
           (col("c2").cast("double") / col("n_uni")))), 6))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
      .select(col("bigram"), col("c_ab"), col("c1"), col("c2"), col("pmi"))
  }

  /** Per-document mean bigram CONDITIONAL log-likelihood under the
    * corpus's own add-one-smoothed bigram LM — one rung above
    * [[unigramLogLik]] on the LM-quality ladder: scores word-ORDER
    * plausibility, not just word choice (shuffled text keeps its unigram
    * score but craters here). `logp(b|a) = ln((c_ab+1) / (c_a + V))`,
    * averaged over the document's bigram occurrences; single-token and
    * empty documents have no bigrams and are absent from the output.
    *
    * Scale shape: same as [[unigramLogLik]] with the frequency table keyed
    * by bigram — one explode of the corpus, two vocab-sized join sides
    * (bigram counts, unigram counts), the (V) scalar as a 1-row broadcast,
    * one per-doc aggregate. No window, no driver state. */
  def bigramLogLik(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
    val occ = toks.select(col(idCol),
      explode(TextFunctions.shinglesOf(col("__t"), 2)).as("bigram"))
    val biFreqs = occ.groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val uniFreqs = toks.select(explode(col("__t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_a"))
    val vocab = uniFreqs.agg(count(lit(1)).as("v_size"))
    occ
      .join(biFreqs, Seq("bigram"))
      .join(uniFreqs.select(col("w"), col("c_a")),
        element_at(split(col("bigram"), " "), 1) === col("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        log((col("c_ab") + 1).cast("double") / (col("c_a") + col("v_size"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("logp")), 6).as("mean_loglik"))
  }

  /** Jelinek–Mercer interpolated bigram scoring (public: Jelinek & Mercer
    * '80; the smoothing real LM pipelines use where [[bigramLogLik]]'s
    * add-one is the teaching baseline): per bigram,
    * p(b|a) = λ·c_ab/c_a + (1−λ)·c_b/T — the conditional MLE backed off
    * toward the unigram distribution, so unseen continuations score by
    * word frequency instead of a flat pseudo-count. Returns per-doc
    * (n_bigrams, mean ln p).
    *
    * λ defaults to 0.75 — a DYADIC rational, so the mix arithmetic is
    * exact IEEE both engines; every probability is a ratio of exact
    * integer counts. Same wordcount-join scale shape as bigramLogLik plus
    * one more vocab-sized join (the right word's unigram count) and a
    * 1-row total broadcast. */
  def interpolatedLogLik(docs: DataFrame, idCol: String, textCol: String,
                         lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    // NOT widened (r15): FanOut.widen here A/B'd at 1.21× (1.23 →
    // 1.49 s) — the tokenize is cheap relative to the bigram joins, so
    // the extra exchange is pure overhead (same verdict for the
    // Kneser–Ney sibling below).
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
    val occ = toks.select(col(idCol),
      explode(TextFunctions.shinglesOf(col("__t"), 2)).as("bigram"))
    val biFreqs = occ.groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
    val uniFreqs = toks.select(explode(col("__t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val totals = uniFreqs.agg(sum(col("c_w")).as("t_occ"))
    val mix = lit(lambda) * (col("c_ab") / col("c_a")) +
      lit(1.0 - lambda) * (col("c_b") / col("t_occ"))
    occ
      .join(biFreqs, Seq("bigram"))
      .join(uniFreqs.select(col("w").as("__wa"), col("c_w").as("c_a")),
        element_at(split(col("bigram"), " "), 1) === col("__wa"))
      .join(uniFreqs.select(col("w").as("__wb"), col("c_w").as("c_b")),
        element_at(split(col("bigram"), " "), 2) === col("__wb"))
      .crossJoin(broadcast(totals))
      .withColumn("__logp", log(mix))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__logp")), 6).as("mean_loglik"))
  }

  /** Interpolated Kneser–Ney bigram scoring (public: Kneser & Ney
    * ICASSP'95; Chen & Goodman '98 eq. 4.26 — the de-facto standard
    * n-gram smoothing, and the one KenLM ships): per bigram (a,b),
    * p(b|a) = max(c_ab − d, 0)/c_a + (d·N1+(a·)/c_a)·p_cont(b) with the
    * CONTINUATION unigram p_cont(b) = N1+(·b)/|bigram types| — "how many
    * contexts does b complete" rather than "how often does b occur",
    * the fix for Francisco-after-San scoring high everywhere. Returns
    * per-doc (n_bigrams, mean ln p).
    *
    * d defaults to 0.75 — DYADIC, so the discount arithmetic is exact
    * IEEE in any engine; every other quantity is a ratio of exact
    * integer counts (occurrence counts, distinct-continuation counts,
    * the bigram type total). p > 0 always: c_a ≥ c_ab ≥ 1 and
    * N1+(a·) ≥ 1 for every observed context, so ln is safe.
    *
    * Scale shape: identical to [[interpolatedLogLik]] — one bigram
    * hash-aggregate, two vocab-sized aggregates (left-context totals +
    * distinct continuations; right-context distinct preceders), a
    * 1-row type-count broadcast, and vocab-keyed equi-joins back to the
    * occurrence stream. Distinct-counts are exact (count_distinct over
    * the aggregated BIGRAM TYPE table, ≤ vocab² rows but in practice
    * corpus-sublinear), never over raw occurrences. */
  def kneserNeyLogLik(docs: DataFrame, idCol: String, textCol: String,
                      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1): $discount")
    // NOT widened (r15): see interpolatedLogLik — A/B'd ~1.1× slower.
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
    val occ = toks.select(col(idCol),
      explode(TextFunctions.shinglesOf(col("__t"), 2)).as("bigram"))
    val types = occ.groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .withColumn("__wa", element_at(split(col("bigram"), " "), 1))
      .withColumn("__wb", element_at(split(col("bigram"), " "), 2))
    val left = types.groupBy(col("__wa"))
      .agg(sum(col("c_ab")).as("c_a"),
        count(lit(1)).as("n1p_a")) // distinct continuations of a
    val right = types.groupBy(col("__wb"))
      .agg(count(lit(1)).as("n1p_b")) // distinct contexts preceding b
    val total = types.agg(count(lit(1)).as("t_types"))
    val p =
      greatest(col("c_ab") - lit(discount), lit(0.0)) / col("c_a") +
        (lit(discount) * col("n1p_a") / col("c_a")) *
          (col("n1p_b") / col("t_types"))
    occ
      .join(types, Seq("bigram"))
      .join(left, Seq("__wa"))
      .join(right, Seq("__wb"))
      .crossJoin(broadcast(total))
      .withColumn("__logp", log(p))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__logp")), 6).as("mean_loglik"))
  }

  /** Green-list watermark detector (public: Kirchenbauer et al. ICML'23
    * "A Watermark for Large Language Models"): a watermarking LLM biases
    * each token toward a pseudorandom "green list" seeded by the previous
    * token; the detector needs NO model — per document, count bigrams
    * whose (prev, cur) hash lands green (γ = ½ here: md5 first-hex-digit
    * parity) and z-test the excess over the null γ·T:
    * z = (G − T/2)/√(T/4) = (2G − T)/√T. Unwatermarked text scores
    * |z| ≲ 2; the paper flags at z ≥ 4 (α ≈ 3·10⁻⁵). THE
    * model-generated-text screen a training-corpus intake runs to keep
    * synthetic output of watermarking models out of the pretraining mix.
    *
    * G and T are exact integers (md5 is bit-identical everywhere);
    * the single √ and division happen once per doc, 6dp-rounded.
    *
    * Scale shape: wordcount-shaped — explode to bigrams, one map-side
    * hash + parity per bigram, ONE per-doc hash aggregate. No joins, no
    * vocab state, no window. */
  def watermarkScore(docs: DataFrame, idCol: String, textCol: String,
                     zThreshold: Double = 4.0): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive: $zThreshold")
    val toks = docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
    val occ = toks.select(col(idCol),
      explode(TextFunctions.shinglesOf(col("__t"), 2)).as("bigram"))
    val green = (conv(substring(md5(col("bigram")), 1, 1), 16, 10)
      .cast("long") % 2 === 0).cast("long")
    occ
      .withColumn("__g", green)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"), sum(col("__g")).as("n_green"))
      .select(col(idCol), col("n_scored"), col("n_green"),
        round(col("n_green") / col("n_scored"), 6).as("green_frac"),
        round((lit(2L) * col("n_green") - col("n_scored"))
          / sqrt(col("n_scored")), 6).as("z"))
      .withColumn("flagged", col("z") >= zThreshold)
  }

  /** Vocabulary coverage curve: corpus token frequencies ranked desc, with
    * each token's cumulative share of all token occurrences — the "how big
    * must the vocab be to cover 99% of the corpus" question a tokenizer
    * build starts with. Returns the top `k` rows of the curve.
    *
    * Scale shape: frequencies are ONE hash-aggregate over the exploded
    * tokens (map-side combined). The ranking/cumsum window runs over the
    * aggregated VOCABULARY (≤ millions of rows), not the corpus — that
    * single-task window is bounded by vocab size, never by corpus size;
    * the corpus itself is touched exactly once, map-side. */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val freqs = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val whole = Window.partitionBy()
    val ordered = Window.partitionBy().orderBy(col("tf").desc, col("token").asc)
    freqs
      .withColumn("rank", row_number().over(ordered).cast("long"))
      .withColumn("coverage",
        round(sum(col("tf")).over(ordered.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) / sum(col("tf")).over(whole), 6))
      .filter(col("rank") <= k)
      .select(col("rank"), col("token"), col("tf"), col("coverage"))
  }

  /** Per-document sentence statistics (sentence count, mean/max tokens
    * per sentence) — the readability/structure signals quality filters
    * add next to the token-level ones (a wall of one 4000-token
    * "sentence" and a list of 400 two-word fragments both score oddly
    * here and normally in token stats). Everything is array math inside
    * ONE map-side projection over staged columns: zero shuffles, zero
    * explodes. Documents with no sentences report 0 with null mean/max. */
  def sentenceStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.sentences(col(textCol)).as("__sents"))
      .select(col(idCol), col("__sents"),
        transform(col("__sents"),
          s => size(TextFunctions.tokens(s))).as("__counts"))
      .select(col(idCol),
        size(col("__sents")).cast("long").as("n_sentences"),
        round(when(size(col("__sents")) > 0,
          aggregate(col("__counts"), lit(0L), (acc, x) => acc + x)
            .cast("double") / size(col("__sents"))), 6)
          .as("avg_sent_tokens"),
        array_max(col("__counts")).cast("long").as("max_sent_tokens"))

  /** Hashed-feature linear text classifier — the fastText-style scoring
    * shape (public literature: Joulin et al. '16 "Bag of Tricks"; feature
    * hashing per Weinberger et al. ICML'09): each token hashes (seed 13)
    * into one of
    * `weights.length` buckets and the document logit is
    * `bias + Σ weights(bucket(token))`. This is how a LEARNED quality /
    * toxicity / domain filter runs at corpus scale once training happened
    * elsewhere — the model is just a weight vector.
    *
    * Scale shape: the weight vector ships as a LITERAL array (same trick
    * as the IVF centroid table — model parameters are query constants,
    * not data), so scoring is pure map-side: zero shuffles, zero joins,
    * one codegen'd projection; `aggregate` over the staged token array
    * keeps the whole fold inside whole-stage codegen. The logit is a sum
    * of dyadic-rational weights — keep weights exactly representable
    * (multiples of 2^-n) and the score is EXACT, engine-portable with no
    * rounding step. Empty/blank documents score `bias`.
    *
    * Emits (id, n_tokens, logit, keep = logit > 0). */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        weights: Seq[Double], bias: Double): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val f = weights.length
    val w = typedlit(weights)
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        aggregate(col("__toks"), lit(bias),
          (acc, t) => acc + element_at(w,
            (pmod(TextFunctions.portableHash(t, 13), lit(f.toLong)) + 1)
              .cast("int"))).as("logit"))
      .withColumn("keep", col("logit") > 0.0)
  }

  /** Top-k terms per document by TF-IDF, ranked on the score rounded to
    * 6 decimals with a term tiebreak — rounding before ranking
    * keeps the selection reproducible across engines (mathematically-equal
    * scores computed as different float expressions round identically,
    * where raw-double ordering could flip on the last ulp). This is the
    * bounded output form the harness oracle checks (q_tfidf). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf_idf").desc, col("term").asc)
    tfIdf(docs, idCol, textCol)
      .withColumn("tf_idf", round(col("tf_idf"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Adjacent-character-pair counts within words — the statistic one BPE
    * merge iteration maximizes (public: Sennrich et al. ACL'16 "Neural
    * machine translation of rare words with subword units"): tokenizer
    * training at corpus scale starts by ranking symbol pairs by frequency;
    * re-feeding merged symbols re-runs this same counting shape. Returns
    * the top `topN` pairs by (count desc, pair asc) — TakeOrdered, never
    * a full sort.
    *
    * Scale shape: pure map-side pair generation (one `transform` over a
    * `sequence` of window starts — no per-char explode), ONE map-combined
    * hash aggregate over the pair space (bounded by alphabet², Zipf-
    * concentrated in practice), then TakeOrdered. Words shorter than 2
    * chars contribute nothing. */
  def charPairCounts(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 0, s"topN must be positive: $topN")
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("__w")) - 1),
        i => col("__w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topN)
  }

  /** Per-class χ² feature selection (public: the standard contingency
    * formulation, e.g. Yang & Pedersen ICML'97): for each (class, token),
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) over DOCUMENT-level
    * presence counts — the top-k most class-discriminative tokens are the
    * vocabulary a language-ID profile, a domain classifier, or a
    * contamination probe actually needs (frequency alone ranks filler
    * words first).
    *
    * All four cells derive from two aggregates: distinct-doc counts per
    * (token, class) and per-class doc totals. The score is computed in
    * DOUBLE throughout with an explicit multiply chain (no `pow`, whose
    * libm rounding differs across engines; no long products, which
    * overflow at corpus scale) — the oracle spells the identical IEEE
    * expression, so equality holds exactly up to the 6dp round. Tokens
    * present in EVERY document (or a single-class corpus) have a zero
    * marginal → χ² defined as 0. Top-k per class ranks on the rounded
    * score with a token tiebreak (the portable-ranking contract).
    *
    * Scale shape: one explode + one distinct + two hash aggregates; the
    * per-class top-k is a window over the (class, token) table
    * (vocab-sized, not corpus-sized). */
  /** Shared document-presence contingency table per (class, token): the
    * a/b/c/d cells plus marginals that both [[chiSquaredTokens]] and
    * [[mutualInfoTokens]] score. One explode + distinct + two hash
    * aggregates; output is vocab×classes-sized. */
  private def presenceContingency(docs: DataFrame, idCol: String,
                                  textCol: String,
                                  classCol: String): DataFrame = {
    val presence = docs.select(col(idCol), col(classCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .distinct()
    val perClass = presence.groupBy(col(classCol), col("token"))
      .agg(countDistinct(col(idCol)).as("a"))
    val classDocs = docs.groupBy(col(classCol))
      .agg(count(lit(1)).as("n_class"))
    val tokenDocs = presence.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).as("n_token"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    perClass
      .join(classDocs, Seq(classCol))
      .join(tokenDocs, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("b", col("n_token") - col("a"))
      .withColumn("c", col("n_class") - col("a"))
      .withColumn("d", col("n_docs") - col("n_class") - col("b"))
  }

  def chiSquaredTokens(docs: DataFrame, idCol: String, textCol: String,
                       classCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val cells = presenceContingency(docs, idCol, textCol, classCol)
    def dbl(c: Column) = c.cast("double")
    val diff = dbl(col("a")) * dbl(col("d")) - dbl(col("b")) * dbl(col("c"))
    val denom = dbl(col("n_token")) * dbl(col("n_docs") - col("n_token")) *
      dbl(col("n_class")) * dbl(col("n_docs") - col("n_class"))
    val chi2 = round(
      when(denom > 0, dbl(col("n_docs")) * diff * diff / denom)
        .otherwise(0.0), 6)
    val w = Window.partitionBy(col(classCol))
      .orderBy(col("chi2").desc, col("token").asc)
    cells.withColumn("chi2", chi2)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col(classCol), col("token"), col("a"), col("chi2"), col("rnk"))
  }

  /** Per-class mutual information feature selection (public: the standard
    * MI formulation over the 2×2 presence contingency, e.g. Manning &
    * Schütze ch. 5): I(token; class) = Σ_cells (n_cell/N)·ln(n_cell·N /
    * (row·col)) — the information-theoretic sibling of
    * [[chiSquaredTokens]] (χ² asks "is the association surprising", MI
    * asks "how many nats does the token carry about the class"); ranking
    * both and diffing the lists is the classic feature-selection sanity
    * check. Zero cells contribute 0 (the x·ln x → 0 limit); all
    * arithmetic is double with explicit casts, mirrored by the oracle.
    * Top-k per class on the 6dp-rounded score with a token tiebreak. */
  def mutualInfoTokens(docs: DataFrame, idCol: String, textCol: String,
                       classCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val cells = presenceContingency(docs, idCol, textCol, classCol)
    def dbl(c: Column) = c.cast("double")
    val n = dbl(col("n_docs"))
    def term(cell: Column, row: Column, colm: Column) =
      when(cell > 0,
        dbl(cell) / n * log(dbl(cell) * n / (dbl(row) * dbl(colm))))
        .otherwise(0.0)
    val mi = round(
      term(col("a"), col("n_token"), col("n_class"))
        + term(col("b"), col("n_token"), col("n_docs") - col("n_class"))
        + term(col("c"), col("n_docs") - col("n_token"), col("n_class"))
        + term(col("d"), col("n_docs") - col("n_token"),
            col("n_docs") - col("n_class")), 6)
    val w = Window.partitionBy(col(classCol))
      .orderBy(col("mi").desc, col("token").asc)
    cells.withColumn("mi", mi)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col(classCol), col("token"), col("a"), col("mi"), col("rnk"))
  }

  /** Multinomial naive Bayes with add-one smoothing (public: the
    * textbook McCallum & Nigam '98 formulation), trained and applied as
    * one dataflow: per-class token counts + document priors form the
    * model, every document is scored against every class as
    * score(d, c) = ln(docs_c/N) + Σ_t tf(d,t)·ln((cnt(t,c)+1)/(occ_c+V)),
    * and the argmax (ties → smallest class label) is the prediction.
    * Self-labelling the training corpus is the classifier-audit shape —
    * documents whose own label loses the argmax are the mislabel/drift
    * candidates a curation pipeline routes to review.
    *
    * Scale shape: everything is wordcount-style hash aggregates plus one
    * fan-out of the (doc, token) term table by the CLASS COUNT (a
    * broadcast of #classes rows — 5 languages means 5×, never corpus²)
    * and one equi-join against the (class, token) model (vocab×classes
    * rows — broadcastable for any real vocabulary; falls back to a plain
    * shuffle join if not). Scores round to 6dp BEFORE the argmax so the
    * prediction is reproducible cross-engine. Output:
    * (id, actual class, pred, score). Documents with NO tokens carry no
    * likelihood signal and are EXCLUDED from the output — route empties
    * through the expectations gate
    * ([[graft.operators.ColumnHygiene.checkExpectations]]) before this
    * audit rather than letting a prior-only argmax launder them. */
  def naiveBayesClassify(docs: DataFrame, idCol: String, textCol: String,
                         classCol: String): DataFrame = {
    val occ = docs.select(col(idCol), col(classCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val ct = occ.groupBy(col(classCol).as("cand"), col("token"))
      .agg(count(lit(1)).as("ct_cnt"))
    val classTotals = ct.groupBy(col("cand")).agg(sum(col("ct_cnt")).as("c_occ"))
    val priors = docs.groupBy(col(classCol).as("cand"))
      .agg(count(lit(1)).as("c_docs"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val vocab = occ.agg(countDistinct(col("token")).as("v_size"))
    val classes = classTotals.join(priors, Seq("cand"))
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(vocab))
    val dtf = occ.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val scored = dtf.crossJoin(broadcast(classes))
      .join(ct, Seq("cand", "token"), "left")
      .withColumn("__logp", col("tf") *
        log((coalesce(col("ct_cnt"), lit(0L)) + 1).cast("double")
          / (col("c_occ") + col("v_size"))))
      .groupBy(col(idCol), col("cand"), col("c_docs"), col("n_docs"))
      .agg(sum(col("__logp")).as("__ll"))
      .select(col(idCol), col("cand"),
        round(col("__ll") + log(col("c_docs").cast("double") / col("n_docs")),
          6).as("score"))
    val best = scored.groupBy(col(idCol))
      .agg(min_by(struct(col("cand"), col("score")),
        struct((-col("score")).as("ns"), col("cand").as("cb"))).as("__best"))
      .select(col(idCol), col("__best.cand").as("pred"),
        col("__best.score").as("score"))
    docs.select(col(idCol), col(classCol)).join(best, Seq(idCol))
  }

  /** Zipf-law fit per group: OLS slope of ln(frequency) against ln(rank)
    * over the group's token frequency table — the classic corpus health
    * check (natural language sits near slope −1; a far-off slope flags
    * boilerplate floods, dedup failures, or synthetic/spam text; public:
    * Zipf '49). Returns [[Stats.groupOls]]'s (group, n, slope, intercept,
    * r2), where n is the fitted vocabulary size.
    *
    * Shape: one explode + one hash aggregate build the per-group frequency
    * table (vocabulary-sized, NOT corpus-sized), one rank window per group
    * over that table, then the closed-form OLS aggregate. Ranks tie-break
    * by token so the fit is deterministic. `maxRank > 0` truncates the fit
    * to the top ranks — both the standard Zipf practice (the law holds in
    * the head) and the bound that keeps a 10⁸-type vocabulary's sort from
    * concentrating in one task. */
  def zipfFit(docs: DataFrame, groupCol: String, textCol: String,
              maxRank: Int = 0): DataFrame = {
    val freqs = docs
      .select(col(groupCol),
        explode(TextFunctions.tokens(col(textCol))).as("__token"))
      .groupBy(col(groupCol), col("__token")).agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__cnt").desc, col("__token").asc)
    val ranked = freqs
      .withColumn("__rank", row_number().over(w))
      .filter(if (maxRank > 0) col("__rank") <= maxRank else lit(true))
      .select(col(groupCol),
        log(col("__rank")).as("__x"), log(col("__cnt")).as("__y"))
    Stats.groupOls(ranked, groupCol, "__x", "__y")
  }

  /** Per-group Gini concentration of the token-frequency distribution,
    * in the sorted-rank form G = 2·Σ r·f_r / (n·Σf) − (n+1)/n with ranks
    * ascending by count: 0 = perfectly even vocabulary use, →1 = a few
    * tokens dominate. The bounded, unitless corpus-diversity dial next
    * to [[zipfFit]]'s slope and [[tokenEntropy]]'s bits — a collapsing
    * Gini across snapshots is the classic symptom of template/boilerplate
    * flooding a source.
    *
    * Shape: one token-count hash aggregate, then a rank window over each
    * group's VOCABULARY (distinct tokens — never raw token instances) +
    * one final aggregate. Integer counts, ranks and products throughout;
    * the only float ops are the closing divisions — cross-engine exact.
    * Rank ties (equal counts) are broken by token so the ranking is
    * deterministic, and any tie order gives the same Σ r·f_r within a
    * tie group anyway. */
  def giniConcentration(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val freqs = docs
      .select(col(groupCol),
        explode(TextFunctions.tokens(col(textCol))).as("__token"))
      .groupBy(col(groupCol), col("__token")).agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__cnt").asc, col("__token").asc)
    freqs
      .withColumn("__r", row_number().over(w))
      .groupBy(col(groupCol))
      // rank·count products go through double BEFORE summing: Σ r·f
      // approaches vocab·Σf, which wraps a long at corpus scale while
      // DuckDB's HUGEINT sum wouldn't — double keeps the two engines on
      // the same arithmetic (exact while < 2^53, same rounding beyond)
      .agg(count(lit(1)).as("vocab"), sum(col("__cnt")).as("n_tokens"),
        sum(col("__r").cast("double") * col("__cnt")).as("__rf"))
      .select(col(groupCol), col("vocab"), col("n_tokens"),
        round(
          lit(2.0) * col("__rf")
            / (col("vocab").cast("double") * col("n_tokens").cast("double"))
            - (col("vocab") + 1).cast("double") / col("vocab").cast("double"),
          6).as("gini"))
  }

  /** DSIR-style targeted selection (public method: Xie et al., "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023): score every raw document by how much more likely its hashed
    * token features are under the TARGET distribution than the raw one,
    * then resample by score with Gumbel-top-k — selecting a raw subset
    * that is token-distributed like the target domain without training a
    * classifier.
    *
    * Features = portable-md5 token hash mod `buckets` (hashed n-gram
    * buckets); both distributions are Laplace-smoothed over the bucket
    * domain; doc score = mean per-occurrence log-ratio (length-normalized).
    * Gumbel keys use the engine-portable [[Corpus.hashUnit]] (salt
    * "dsir") — the
    * Gumbel-max trick makes top-k(score+g) a sample without replacement
    * ∝ softmax(score), but DETERMINISTIC: reruns, engines and cluster
    * sizes agree row-for-row (the same rerun-invariance contract as
    * [[Corpus.stratifiedSample]]).
    *
    * Shape: two token-count aggregates (bucket-domain-sized, ≪ vocab), a
    * broadcast stats join back onto occurrences, one per-doc aggregate,
    * TakeOrdered(nSelect) — no shuffle beyond the aggregates, no driver
    * loop, no model training. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, buckets: Int, nSelect: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    require(nSelect >= 1, s"nSelect must be >= 1: $nSelect")
    def occ(df: DataFrame) = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .select(col(idCol),
        pmod(TextFunctions.portableHash(col("token"), 0), lit(buckets)).as("b"))
    val rawOcc = occ(raw)
    val tgtOcc = occ(target)
    val rawCnt = rawOcc.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
    val tgtCnt = tgtOcc.groupBy(col("b")).agg(count(lit(1)).as("c_t"))
    val totals = rawOcc.agg(count(lit(1)).as("t_r"))
      .crossJoin(tgtOcc.agg(count(lit(1)).as("t_t")))
    // every scored occurrence's bucket appears in rawCnt by construction;
    // buckets unseen in the target get c_t = 0 and live off the smoothing
    val stats = rawCnt.join(tgtCnt, Seq("b"), "left")
      .select(col("b"), col("c_r"), coalesce(col("c_t"), lit(0L)).as("c_t"))
      .crossJoin(broadcast(totals))
      .withColumn("__lr",
        log((col("c_t") + 1).cast("double") / (col("t_t") + buckets).cast("double"))
          - log((col("c_r") + 1).cast("double") / (col("t_r") + buckets).cast("double")))
      .select(col("b"), col("__lr"))
    val scored = rawOcc
      .join(broadcast(stats), Seq("b"))
      .groupBy(col(idCol))
      .agg(avg(col("__lr")).as("__score"))
    val u = greatest(Corpus.hashUnit(col(idCol), "dsir"), lit(1.0 / 4294967296.0))
    scored
      .withColumn("sel_key", round(col("__score") - log(-log(u)), 6))
      .withColumn("score", round(col("__score"), 6))
      .orderBy(col("sel_key").desc, col(idCol).asc)
      .limit(nSelect)
      .select(col(idCol), col("score"), col("sel_key"))
  }

  /** Pseudo-relevance-feedback query expansion (RM3-lite; Lavrenko &
    * Croft SIGIR'01 lineage): retrieve the [[bm25]] top-`fbDocs`, then
    * rank the terms of those feedback documents by feedback-frequency ×
    * corpus IDF (query terms excluded) — the expanded-query term list
    * that makes the second retrieval pass recall what the literal query
    * missed. Weights are 6dp-rounded BEFORE the (weight desc, term asc)
    * rank so the expansion set is engine-exact.
    *
    * Scale shape: the bm25 stage's own bounded shapes, then the feedback
    * join is a broadcast of `fbDocs` ids against the term-frequency
    * table — term work ∝ feedback-doc vocabulary, never the corpus; IDF
    * comes from one full-vocabulary aggregate (the same table a TF-IDF
    * pass already builds). */
  def prfExpansion(docs: DataFrame, idCol: String, textCol: String,
                   queryTerms: Seq[String], fbDocs: Int,
                   nTerms: Int): DataFrame = {
    require(fbDocs >= 1 && nTerms >= 1, s"bad params: $fbDocs/$nTerms")
    val top = bm25(docs, idCol, textCol, queryTerms, fbDocs)
      .select(col(idCol))
    // feeds the document-frequency table AND the feedback-doc join —
    // cache (spillable) or the tokenize + per-doc term aggregate runs
    // twice (bm25's internal index is its own third pass by design)
    val tf = termFrequencies(docs, idCol, textCol).cache()
    val n = docs.select(count(lit(1)).cast("double").as("__n"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(top), Seq(idCol))
      .filter(!col("term").isin(queryTerms.map(lit): _*))
      .groupBy(col("term")).agg(sum(col("tf")).as("tf_feedback"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("tf_feedback"), col("df"),
        round(col("tf_feedback").cast("double")
          * log(col("__n") / col("df")), 6).as("expansion_weight"))
      .orderBy(col("expansion_weight").desc, col("term").asc)
      .limit(nTerms)
  }

  /** Heaps'-law vocabulary-growth fit (Heaps '78): V(T) ≈ k·T^β over
    * nested corpus prefixes — the tokenizer/vocab budget planner (β ≈
    * 0.4–0.6 for natural text; β drifting up means the corpus keeps
    * minting new tokens — OCR noise, ids — and a fixed vocab will see
    * rising OOV). Prefixes are HASH-NESTED: a doc belongs to prefix j iff
    * hashUnit(id) < j/buckets, so prefix membership is a pure map-side
    * expression and prefixes are nested BY CONSTRUCTION — no global
    * row-ordering window anywhere (a rank-based prefix would serialize
    * the corpus into one task). V_j counts tokens whose FIRST bucket ≤ j
    * (one min-aggregate over the vocabulary); the β/ln k fit is
    * [[Stats.groupOls]] on (ln T_j, ln V_j).
    *
    * Scale shape: two hash aggregates (per-bucket token sums; per-token
    * min bucket) + cumulative windows over the BUCKET GRID (k rows) + a
    * k-point OLS — nothing corpus-sized beyond the aggregates. */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000]: $buckets")
    val spark = docs.sparkSession
    val staged = docs.select(col(idCol).as("__id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__b",
        (floor(Corpus.hashUnit(col("__id"), "heaps") * buckets) + 1)
          .cast("int"))
    val tpb = staged.groupBy(col("__b"))
      .agg(sum(size(col("__toks")).cast("long")).as("__t"))
    val vpb = staged.select(col("__b"), explode(col("__toks")).as("__tok"))
      .groupBy(col("__tok")).agg(min(col("__b")).as("__fb"))
      .groupBy(col("__fb").as("__b")).agg(count(lit(1)).as("__v"))
    val grid = spark.range(1, buckets + 1)
      .select(col("id").cast("int").as("__b"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = grid.join(tpb, Seq("__b"), "left").join(vpb, Seq("__b"), "left")
      .na.fill(0L, Seq("__t", "__v"))
      .withColumn("tokens_cum", sum(col("__t")).over(wCum))
      .withColumn("vocab_cum", sum(col("__v")).over(wCum))
      .filter(col("tokens_cum") > 0 && col("vocab_cum") > 0)
      .select(col("__b").as("checkpoint"), col("tokens_cum"),
        col("vocab_cum"),
        log(col("tokens_cum").cast("double")).as("__x"),
        log(col("vocab_cum").cast("double")).as("__y"))
    val fit = Stats.groupOls(pts.withColumn("__g", lit(1)), "__g", "__x", "__y")
      .select(col("n").as("n_points"), col("slope").as("heaps_exponent"),
        col("intercept").as("heaps_lnk"), col("r2"))
    pts.select(col("checkpoint"), col("tokens_cum"), col("vocab_cum"))
      .crossJoin(broadcast(fit))
  }

  /** Flesch reading-ease readability signals (Flesch '48; the quality
    * dimension length/punct ratios miss — syntactic density): per doc,
    * words (whitespace tokens), sentences ([.!?]-terminated segments, the
    * shared [[TextFunctions.sentences]] contract), and syllables
    * approximated as ASCII vowel-group runs `[aeiouy]+` over the
    * lowercased text (the standard cheap heuristic; tokens contain no
    * whitespace, so counting over the whole text equals per-word
    * counting). score = 206.835 − 1.015·(W/S) − 84.6·(Syl/W), null when
    * either denominator is 0. All counts are integers and the constants
    * are shared decimal literals, so the arithmetic is bit-deterministic
    * cross-engine.
    *
    * Scale shape: pure map-side row arithmetic over the scan — zero
    * shuffle, zero state. */
  def readabilitySignals(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val w = TextFunctions.tokenCount(col(textCol)).cast("long")
    val s = size(TextFunctions.sentences(col(textCol))).cast("long")
    val syl = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    docs.select(col(idCol), w.as("n_words"), s.as("n_sentences"),
      syl.as("n_syllables"),
      round(when(w > 0 && s > 0,
        lit(206.835) - lit(1.015) * (w.cast("double") / s)
          - lit(84.6) * (syl.cast("double") / w)), 6).as("flesch"))
  }

  /** BPE merge-rule training (Sennrich, Haddow & Birch, ACL'16): learn the
    * first `rounds` byte-pair merges from a corpus — each round counts
    * adjacent-symbol pairs weighted by word frequency, takes the most
    * frequent pair ((count desc, a asc, b asc) — deterministic tiebreak),
    * and merges it everywhere, left-to-right non-overlapping. Returns the
    * learned merge table (rank, a, b, corpus pair count, merged symbol) —
    * the artifact a tokenizer ships.
    *
    * Scale shape: the ONLY corpus-sized work is the initial word-frequency
    * aggregate (one hash agg with map-side combine — exactly how real BPE
    * trainers collapse the corpus to a vocab dict). Every round then runs
    * over the DISTINCT-WORD table: one pair aggregate (bounded by
    * vocab × word length) + a 1-row tiny-collect of the winning pair,
    * which next round's merge inlines as a literal. The vocab frame is
    * cached once and released before returning; round r's lineage is r
    * map-side string replaces over that cache — no exponential re-derive.
    *
    * Determinism across engines: words are held as U+001F-wrapped symbol
    * strings (`␟l␟␟o␟␟w␟`), and a merge is ONE literal `replace` of
    * `␟a␟␟b␟` with `␟ab␟` — both engines scan left-to-right
    * non-overlapping, which is exactly BPE's merge order; integer counts
    * and codepoint string comparisons leave nothing float-dependent.
    * Words containing the separator itself are excluded up front. */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainRules(docs, textCol, rounds)
      .toDF("merge_rank", "sym_a", "sym_b", "pair_count")
      .withColumn("merged", concat(col("sym_a"), col("sym_b")))
  }

  /** Symbol separator for the wrapped-string BPE representation (U+001F). */
  private[graft] val bpeSep = "\u001f"

  /** [[bpeTrain]]'s learning loop returning the merge rules as plain
    * values - the form [[bpeEncode]] inlines back as literals. */
  def bpeTrainRules(docs: DataFrame, textCol: String,
                    rounds: Int): Seq[(Long, String, String, Long)] = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64]: $rounds")
    val sep = bpeSep
    // widen the scan before the tokenize+explode (r15, guide §2.5 —
    // single-row-group inputs otherwise run it in one task)
    val wrapped = graft.operators.FanOut.widen(docs)
      .select(explode(TextFunctions.tokens(col(textCol))).as("__word"))
      .filter(length(col("__word")) > 0 && !col("__word").contains(sep))
      .groupBy(col("__word")).agg(count(lit(1)).as("c"))
      .select(regexp_replace(col("__word"), "(.)", s"$sep$$1$sep").as("w"),
        col("c"))
      .cache()
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var vocab = wrapped
    for (r <- 1 to rounds) {
      val syms = split(trim(col("w"), sep), sep + sep)
      val best = vocab
        .select(col("c"), syms.as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("c"), explode(transform(
          sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("a"),
            element_at(col("s"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect().headOption
        .getOrElse(sys.error(
          s"bpeTrain: vocabulary exhausted before round $r (corpus too small)"))
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      rules += ((r.toLong, a, b, cnt))
      vocab = vocab.select(
        replace(col("w"), lit(s"$sep$a$sep$sep$b$sep"), lit(s"$sep$a$b$sep"))
          .as("w"),
        col("c"))
    }
    wrapped.unpersist(false)
    rules.toSeq
  }

  /** Apply learned BPE merges to the corpus and report per-document
    * subword statistics - the token-counting step under the learned
    * tokenizer (the number that actually prices a training run, vs the
    * whitespace proxy). Each document becomes its space-joined
    * wrapped-word form and the `rules` are applied as a chain of literal
    * `replace`s in rank order (for a self-consistent rule list this
    * equals priority-fixpoint BPE encoding: a later merge can only
    * create symbols no EARLIER rule references, since those symbols did
    * not exist when the earlier rule was learned). Word boundaries are
    * plain spaces, which no wrapped pattern can cross.
    *
    * Scale shape: training aside, encoding is a pure map-side expression
    * chain over the scan - zero shuffle, `rules.size` string passes per
    * row; subword count = separator count / 2, integer arithmetic. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                rules: Seq[(Long, String, String, Long)]): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    val sep = bpeSep
    val wrappedDoc = concat_ws(" ",
      transform(TextFunctions.tokens(col(textCol)),
        w => regexp_replace(w, "(.)", s"$sep$$1$sep")))
    val encoded = rules.sortBy(_._1).foldLeft(wrappedDoc) {
      case (acc, (_, a, b, _)) =>
        replace(acc, lit(s"$sep$a$sep$sep$b$sep"), lit(s"$sep$a$b$sep"))
    }
    val nWords = TextFunctions.tokenCount(col(textCol)).cast("long")
    // the per-char wrap + rules.size replace passes are the query's CPU
    // and purely map-side — widen the unsplittable scan (r15, §2.5)
    graft.operators.FanOut.widen(docs, col(idCol))
      .select(col(idCol), nWords.as("n_words"), encoded.as("__enc"))
      .select(col(idCol), col("n_words"),
        ((length(col("__enc"))
          - length(replace(col("__enc"), lit(sep), lit("")))) / 2)
          .cast("long").as("n_subwords"))
      .withColumn("subwords_per_word",
        round(when(col("n_words") > 0,
          col("n_subwords").cast("double") / col("n_words")), 6))
  }

  /** Tokenizer fertility report (the multilingual-tokenizer equity
    * readout, e.g. XLM-R/BLOOM tokenizer analyses): per group
    * (language, source), aggregate subwords-per-word and
    * chars-per-subword under the LEARNED [[bpeEncode]] tokenizer — the
    * number that says which languages pay more tokens for the same
    * text, i.e. whose context window and training budget a tokenizer
    * quietly taxes. Input is bpeEncode's per-doc output joined with the
    * grouping column and an `n_chars` character count.
    *
    * Scale shape: ONE hash aggregate over the already-map-side encode
    * projection; exact integer sums, two closing divisions. Groups with
    * zero subwords (all-empty text) yield nulls, never NaN. */
  def tokenizerFertility(encoded: DataFrame, groupCol: String): DataFrame =
    encoded.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"),
        sum(col("n_chars")).as("n_chars"))
      .select(col(groupCol), col("n_docs"), col("n_words"),
        col("n_subwords"), col("n_chars"),
        round(when(col("n_words") > 0,
          col("n_subwords").cast("double") / col("n_words").cast("double")),
          6).as("subwords_per_word"),
        round(when(col("n_subwords") > 0,
          col("n_chars").cast("double") / col("n_subwords").cast("double")),
          6).as("chars_per_subword"))

  /** Word-frequency spectrum (Zipf's "frequency of frequencies", the
    * V_m table Yule's K and Good–Turing smoothing are built from): per
    * group, the number of word TYPES occurring exactly m times for
    * m ≤ `maxM`, plus the type count V and the hapax share V₁/V — the
    * vocabulary-health readout that separates rich prose (heavy hapax
    * tail is normal) from OCR noise / boilerplate (V₁/V near 1 with low
    * V is garbage; V₁/V near 0 is template spam). Complements [[yuleK]]
    * (which collapses this table to one number) by showing WHERE the
    * mass sits.
    *
    * Scale shape: the wordcount aggregate (shuffle ∝ distinct types) +
    * one regroup on (group, m) — the spectrum is bounded by maxM rows
    * per group. Exact integers; one division for the share. */
  def frequencySpectrum(docs: DataFrame, groupCol: String, textCol: String,
                        maxM: Int = 10): DataFrame = {
    require(maxM >= 1, s"maxM must be >= 1: $maxM")
    val counts = docs.select(col(groupCol),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__m"))
    val vTotals = counts.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__v"))
    counts
      .filter(col("__m") <= maxM)
      .groupBy(col(groupCol), col("__m").as("m"))
      .agg(count(lit(1)).as("v_m"))
      .join(vTotals, Seq(groupCol))
      .select(col(groupCol), col("m"), col("v_m"),
        col("__v").as("v_types"),
        round(col("v_m").cast("double") / col("__v").cast("double"), 6)
          .as("share_of_types"))
  }

  /** Good–Turing frequency re-estimation (Good Biometrika'53, the
    * Katz/KenLM-backoff foundation; simple GT, no regression fit): from
    * the [[frequencySpectrum]] V_r table per group, the discounted
    * count r* = (r+1)·V_{r+1}/V_r for r ≤ `maxR`, the unseen-mass
    * estimate p₀ = V₁/N, and each r's discount ratio r_star/r — how much
    * probability the observed low-frequency types must cede to the
    * events the corpus has NOT seen yet. The direct answer to "how much
    * of this domain's vocabulary is still missing from the crawl" — a
    * p₀ that stays high as the corpus grows means the source is far
    * from exhausted. r with an empty next class (V_{r+1} = 0) yields
    * null r* (simple GT is undefined there; the fitted variants exist
    * for that gap — out of scope).
    *
    * Scale shape: the wordcount aggregate (shuffle ∝ distinct types) +
    * one (group, r) regroup + a self-join of the BOUNDED spectrum table
    * on r+1 — everything after the wordcount is ≤ maxR rows per group.
    * Exact integer counts; ratios are the only divisions, 6dp. */
  def goodTuring(docs: DataFrame, groupCol: String, textCol: String,
                 maxR: Int = 5): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1: $maxR")
    val counts = docs.select(col(groupCol),
        explode(TextFunctions.tokens(col(textCol))).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__m"))
    val spectrum = counts.groupBy(col(groupCol), col("__m").as("r"))
      .agg(count(lit(1)).as("v_r"))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("__m")).as("__n"),
        sum(when(col("__m") === 1, 1L).otherwise(0L)).as("__v1"))
    spectrum
      .filter(col("r") <= maxR)
      .join(spectrum.select(col(groupCol), (col("r") - 1).as("r"),
        col("v_r").as("__vNext")), Seq(groupCol, "r"), "left")
      .join(totals, Seq(groupCol))
      .select(col(groupCol), col("r"), col("v_r"),
        round(when(col("__vNext").isNotNull,
          (col("r") + 1).cast("double") * col("__vNext").cast("double")
            / col("v_r").cast("double")), 6).as("r_star"),
        round(when(col("__vNext").isNotNull,
          (col("r") + 1).cast("double") * col("__vNext").cast("double")
            / col("v_r").cast("double") / col("r").cast("double")), 6)
          .as("discount"),
        round(col("__v1").cast("double") / col("__n").cast("double"), 6)
          .as("p0_unseen"))
  }

  /** Chao1 vocabulary-richness estimator per group (Chao, Scand. J.
    * Stat. '84; bias-corrected form per Colwell–Coddington '94):
    * chao1 = D + f1(f1−1)/(2(f2+1)) where D = observed distinct tokens,
    * f1/f2 = singleton/doubleton type counts — the "how much vocabulary
    * have we NOT crawled yet" readout that turns a frequency spectrum
    * into a total-richness lower bound (the corpus-coverage companion
    * to Good–Turing's p0: GT says how much unseen MASS, Chao1 how many
    * unseen TYPES). The bias-corrected form is total (no f2=0 blowup).
    *
    * Shape: one (group, shingle) hash aggregate, one per-group
    * aggregate — shuffle ∝ distinct (group, shingle), never corpus
    * tokens. The correction term is ONE division of exact integers —
    * deterministic, deliberately UNROUNDED (rational-halves rule).
    * Richness is over token 3-grams (wide enough that the type space
    * is not saturated — a saturated space has f1=f2=0 and the
    * estimator degenerates to D, truthfully but vacuously). */
  def chao1Richness(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    val counts = docs
      .select(col(groupCol), TextFunctions.tokens(col(textCol)).as("__t"))
      .select(col(groupCol),
        explode(TextFunctions.shinglesOf(col("__t"), 3)).as("__tok"))
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__m"))
    counts.groupBy(col(groupCol))
      .agg(count(lit(1)).as("distinct_tokens"),
        sum(when(col("__m") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__m") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col(groupCol), col("distinct_tokens"), col("f1"), col("f2"),
        (col("distinct_tokens").cast("double")
          + (col("f1") * (col("f1") - 1)).cast("double")
          / (lit(2L) * (col("f2") + 1)).cast("double")).as("chao1"))
  }

  /** Burrows' Delta stylometric distance (Burrows, LLC'02; Evert et
    * al., DSH'17 for the formalization): over the corpus's `topM`
    * most frequent words, each group's relative word frequency is
    * z-scored against the across-group mean/σ, and
    * Delta(g1, g2) = mean_w |z1 − z2| — THE authorship/style
    * attribution baseline, here as a source-pair matrix: which sources
    * write alike once topic words are dominated by function-word rates.
    * Complements the JSD matrix (distribution overlap) with a
    * variance-normalized stylistic view.
    *
    * Shape: one (group, token) aggregate; the top-M vocabulary is a
    * bounded TakeOrdered (count desc, token asc — total order);
    * everything after lives on the ≤ M×|groups| z-table (word stats
    * across groups, pair equi-join on word). Zero-σ words (identical
    * rate everywhere) carry no style signal and are excluded. Rel-freqs
    * are exact ratios; the across-group moments and the final mean are
    * float sums → delta is rounded. */
  def burrowsDelta(docs: DataFrame, groupCol: String, textCol: String,
                   topM: Int = 30): DataFrame = {
    require(topM > 0, s"topM must be positive: $topM")
    val toks = docs.select(col(groupCol).as("__g"),
      explode(TextFunctions.tokens(col(textCol))).as("__w"))
    val gw = toks.groupBy(col("__g"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val top = gw.groupBy(col("__w")).agg(sum(col("__c")).as("__tot"))
      .orderBy(col("__tot").desc, col("__w").asc).limit(topM)
      .select(col("__w"))
    val gTotals = gw.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    // group × top-word grid (absent words are rate 0, they still count)
    val grid = gTotals.crossJoin(broadcast(top))
      .join(gw, Seq("__g", "__w"), "left")
      .withColumn("__f", coalesce(col("__c"), lit(0L)).cast("double")
        / col("__n").cast("double"))
    val k = grid.select(col("__g")).distinct().count().toDouble
    val stats = grid.groupBy(col("__w"))
      .agg((sum(col("__f")) / lit(k)).as("__mu"),
        (sum(col("__f") * col("__f")) / lit(k)).as("__m2"))
      .withColumn("__sd",
        sqrt(greatest(col("__m2") - col("__mu") * col("__mu"), lit(0.0))))
      .filter(col("__sd") > 0.0)
    val z = grid.join(stats, Seq("__w"))
      .select(col("__w"), col("__g"),
        ((col("__f") - col("__mu")) / col("__sd")).as("__z"))
      .localCheckpoint()
    z.select(col("__w"), col("__g").as("source_a"), col("__z").as("__za"))
      .join(z.select(col("__w"), col("__g").as("source_b"),
        col("__z").as("__zb")), Seq("__w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_words"),
        round(avg(abs(col("__za") - col("__zb"))), 6).as("delta"))
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley, ch. 1 of
    * "Text Mining: Applications and Theory", 2010): candidate phrases
    * are the maximal token runs between stopword delimiters; each
    * word's score is degree/frequency where frequency counts the word's
    * phrase-instances and degree sums the lengths of the phrases it
    * appears in (co-occurrence credit: words that ride in long phrases
    * score higher); a phrase scores the sum of its member words' scores.
    * Returns the distinct top-`k` phrases corpus-wide with occurrence
    * counts — the unsupervised keyword list.
    *
    * Shape: posexplode + two gaps-and-islands windows partitioned BY
    * DOCUMENT build phrases (shuffle ∝ tokens, window partitions are
    * single docs); word stats are one hash aggregate over phrase-word
    * instances; the phrase score re-join is an equi-join on the word.
    * Word scores are single exact-integer divisions; the phrase-level
    * SUM of them is a floating sum over member words, so the final
    * score is rounded to 6 decimals (the one noise-carrying step). */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String], k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(stopwords.nonEmpty, "RAKE needs a stopword delimiter list")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val toks = docs.select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol)))
          .as(Seq("__pos", "__tok")))
      .filter(!col("__tok").isin(stopwords: _*))
      // island id: token position minus its rank among the doc's
      // surviving (non-stop) tokens is constant within a maximal run
      .withColumn("__island",
        col("__pos") - row_number().over(byDoc))
    val phrases = toks
      .groupBy(col(idCol), col("__island"))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(
            struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok"))).as("phrase"),
        count(lit(1)).as("__len"))
    // collapse to DISTINCT phrase texts first (a phrase's words — and
    // hence its score — are a function of its text): instance-level word
    // stats come back via the occurrence weight, so the exploded frames
    // stay ∝ distinct phrases, not phrase instances
    val dp = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), first(col("__len")).as("__len"))
    val dpWords = dp.select(col("phrase"), col("n_occurrences"), col("__len"),
      explode(split(col("phrase"), " ")).as("__w"))
    val wordScore = dpWords.groupBy(col("__w"))
      .agg((sum(col("n_occurrences") * col("__len")).cast("double")
        / sum(col("n_occurrences")).cast("double")).as("__ws"))
    val phraseScore = dpWords
      .join(wordScore, Seq("__w"))
      .groupBy(col("phrase"))
      .agg(round(sum(col("__ws")), 6).as("score"))
    dp.select(col("phrase"), col("n_occurrences"))
      .join(phraseScore, Seq("phrase"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(k)
  }

  /** ROUGE-1 overlap between consecutive documents (public: Lin,
    * ACL'04 workshop): clipped unigram overlap Σ_w min(c_A(w), c_B(w))
    * between doc i (reference) and doc i+1 (candidate) — recall,
    * precision and F1. The summarization-eval metric doubling as a
    * sequential-redundancy screen: a run of high-F1 consecutive ids
    * marks a crawl that kept near-identical revisions adjacent (the
    * cheap complement to MinHash, which compares SETS and misses
    * multiplicity).
    *
    * Scale shape: per-doc term counts (one hash aggregate), the pair
    * overlap via a self-equi-join on (id+1, token) — fan-out bounded by
    * shared vocabulary per adjacent pair, never corpus² — and exact
    * integer clipped sums; F1 = 2·ov/(|A|+|B|) is one division. Pairs
    * with no shared tokens still appear (overlap 0). */
  def rouge1Pairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).cast("long").as("__id"),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col("__id"), col("__w")).agg(count(lit(1)).as("__c"))
    val lens = docs.select(col(idCol).cast("long").as("__id"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("__len"))
    val pairs = lens.select(col("__id").as("doc_a"), col("__len").as("len_a"))
      .join(lens.select((col("__id") - 1).as("doc_a"),
        col("__len").as("len_b")), Seq("doc_a"))
    val ov = tf.select(col("__id").as("doc_a"), col("__w"),
        col("__c").as("__ca"))
      .join(tf.select((col("__id") - 1).as("doc_a"), col("__w"),
        col("__c").as("__cb")), Seq("doc_a", "__w"))
      .groupBy(col("doc_a"))
      .agg(sum(least(col("__ca"), col("__cb"))).as("overlap"))
    pairs.join(ov, Seq("doc_a"), "left")
      .na.fill(0L, Seq("overlap"))
      .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"),
        col("len_a"), col("len_b"), col("overlap"),
        round(when(col("len_a") > 0,
          col("overlap").cast("double") / col("len_a")), 6)
          .as("rouge1_recall"),
        round(when(col("len_b") > 0,
          col("overlap").cast("double") / col("len_b")), 6)
          .as("rouge1_precision"),
        round(when(col("len_a") + col("len_b") > 0,
          lit(2.0) * col("overlap") / (col("len_a") + col("len_b"))),
          6).as("rouge1_f1"))
  }

  /** BLEU-2 between consecutive documents (public: Papineni et al.
    * ACL'02), the precision-side companion to [[rouge1Pairs]]'s recall:
    * doc i is the REFERENCE and doc i+1 the CANDIDATE; modified n-gram
    * precisions p₁/p₂ clip each candidate n-gram's count at the
    * reference's, the brevity penalty exp(1 − r/c) (capped at 1)
    * punishes short candidates, and BLEU-2 = BP·√(p₁·p₂). As a corpus
    * screen this reads "how much of each document is a re-phrasing of
    * its neighbor" — boilerplate chains score high even when exact
    * dedup misses them.
    *
    * Scale shape: the tokenized frame is cached once (three consumers:
    * unigram TF, bigram TF, lengths); clipped overlaps are the same
    * (id+1, gram) equi-join as rouge1Pairs — shuffle ∝ distinct
    * (doc, gram), never pairwise in the corpus. Overlap counts are
    * exact integers; p₁/p₂/BLEU are single-rounding ratios (√ and ×
    * are IEEE-exact given identical inputs). */
  def bleuPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    val toks = docs.select(col(idCol).cast("long").as("__id"),
      TextFunctions.tokens(col(textCol)).as("__t")).cache()
    val tf1 = toks.select(col("__id"), explode(col("__t")).as("__g"))
      .groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__c"))
    val tf2 = toks.select(col("__id"),
        explode(TextFunctions.shinglesOf(col("__t"), 2)).as("__g"))
      .groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__c"))
    val lens = toks.select(col("__id"), size(col("__t")).cast("long")
      .as("__len"))
    def clipped(tf: DataFrame, out: String): DataFrame = tf
      .select(col("__id").as("doc_a"), col("__g"), col("__c").as("__cr"))
      .join(tf.select((col("__id") - 1).as("doc_a"), col("__g"),
        col("__c").as("__cc")), Seq("doc_a", "__g"))
      .groupBy(col("doc_a"))
      .agg(sum(least(col("__cr"), col("__cc"))).as(out))
    val pairs = lens
      .select(col("__id").as("doc_a"), col("__len").as("len_ref"))
      .join(lens.select((col("__id") - 1).as("doc_a"),
        col("__len").as("len_cand")), Seq("doc_a"))
      .join(clipped(tf1, "overlap1"), Seq("doc_a"), "left")
      .join(clipped(tf2, "overlap2"), Seq("doc_a"), "left")
      .na.fill(0L, Seq("overlap1", "overlap2"))
    val p1 = when(col("len_cand") > 0,
      col("overlap1").cast("double") / col("len_cand"))
    val p2 = when(col("len_cand") > 1,
      col("overlap2").cast("double") / (col("len_cand") - 1))
    val bp = when(col("len_cand") >= col("len_ref"), lit(1.0))
      .otherwise(when(col("len_cand") > 0,
        exp(lit(1.0) - col("len_ref").cast("double") / col("len_cand"))))
    pairs.select(col("doc_a"), (col("doc_a") + 1).as("doc_b"),
      col("len_ref"), col("len_cand"), col("overlap1"), col("overlap2"),
      round(p1, 6).as("p1"),
      round(p2, 6).as("p2"),
      round(bp, 6).as("brevity_penalty"),
      round(bp * sqrt(p1 * p2), 6).as("bleu2"))
  }

  /** Skip-gram context-pair extraction (public: the word2vec
    * training-pair generator, Mikolov et al. NIPS'13): every ordered
    * (center, context) token pair within a forward window of
    * 2 positions, counted corpus-wide with the offset kept as
    * a column — the raw material for embedding training, co-occurrence
    * PMI at distance > 1 (q_ngram_pmi stops at adjacency), and
    * collocation mining. `minCount` drops the long tail (the standard
    * word2vec vocabulary floor) so output is vocabulary-pair-sized, not
    * corpus-sized.
    *
    * Scale shape: ALL offsets come out of ONE window pass —
    * `lead(token, o)` for o = 1, 2 share a single
    * partition-by-document sort (bounded by doc length — never a
    * position self-join), unpivoted with one explode — then ONE
    * map-side-combining count aggregate; every count is an exact
    * integer. Output is vocabulary-pair-sized. */
  def skipgramPairs(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long = 3L): DataFrame = {
    require(minCount >= 1, s"minCount must be positive: $minCount")
    import org.apache.spark.sql.expressions.Window
    val positioned = docs
      .select(col(idCol).as("__id"),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as(Seq("__pos", "__w")))
    val wDoc = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    // leads materialize in a plain select first (window expressions are
    // not allowed inside a generator), then ONE explode unpivots them
    val withLeads = positioned.select(col("__w") +: (1 to 2).map {
      o => lead(col("__w"), o).over(wDoc).as(s"__l$o")
    }: _*)
    val contexts = array((1 to 2).map { o =>
      struct(lit(o).as("dist"), col(s"__l$o").as("ctx"))
    }: _*)
    withLeads
      .select(col("__w").as("center"), explode(contexts).as("__c"))
      .filter(col("__c.ctx").isNotNull)
      .groupBy(col("center"), col("__c.ctx").as("context"),
        col("__c.dist").as("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }

}
