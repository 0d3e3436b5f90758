package graft
package queries

import graft.operators._
import graft.functions._
import org.apache.spark.sql.functions._

/** Corpus curation queries: splits, sampling, mixing, packing,
  * outlier handling and the end-to-end curation pipeline. */
object CorpusQueries {
  import Shared._

  /** Generated q_ktruss oracle: `rounds` UNROLLED idempotent peel
    * rounds over the hash-thinned co-purchase graph (convergence
    * measured at ≤ 4 rounds on every SF; extra rounds are no-ops, the
    * q_kcore idempotence pattern). Each round = the 3-way triangle
    * self-join + per-edge support aggregate + the ≥ k−2 filter,
    * MATERIALIZED so DuckDB doesn't re-derive shared CTEs. */
  private def ktrussOracleSql(rounds: Int, k: Int, thin: Double): String = {
    val head =
      s"""WITH pp AS MATERIALIZED (
                 SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                 FROM lineitem a JOIN lineitem b
                   ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey),
              e0 AS MATERIALIZED (
                 SELECT x AS a, y AS b FROM pp
                 WHERE CAST(('0x' || substring(md5('ktruss:'
                     || CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)),
                     1, 8)) AS BIGINT) / 4294967296.0 < $thin)"""
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s""",
              t$i AS MATERIALIZED (
                 SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM e$p e1 JOIN e$p e2 ON e1.a = e2.a AND e1.b < e2.b
                 JOIN e$p e3 ON e3.a = e1.b AND e3.b = e2.b),
              s$i AS MATERIALIZED (
                 SELECT a, b, COUNT(*) AS support FROM (
                   SELECT x AS a, y AS b FROM t$i
                   UNION ALL SELECT x AS a, z AS b FROM t$i
                   UNION ALL SELECT y AS a, z AS b FROM t$i)
                 GROUP BY 1, 2),
              e$i AS MATERIALIZED (
                 SELECT s.a, s.b FROM s$i s WHERE s.support >= ${k - 2})"""
    }.mkString
    head + body +
      s"""
         SELECT s.a AS src, s.b AS dst, s.support
         FROM s$rounds s WHERE s.support >= ${k - 2}"""
  }

  val all: Seq[Q] = Seq(
    /** §2b exact percentiles via value binning (the scale path of
      * q_percentiles: shuffle ∝ distinct values, no per-group value
      * buffering) — must equal the buffering `percentile` bit-for-bit at
      * 6dp. */
    Q("q_percentile_binned",
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS p50,
                round(quantile_cont(l_quantity, 0.95), 6) AS p95
         FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
      Corpus.percentilesBinned(Tables.lineitem(s, d), "l_returnflag",
          "l_quantity", Seq(0.5, 0.95))
        .withColumn("p50", round(col("p50"), 6))
        .withColumn("p95", round(col("p95"), 6))
    },

    /** §2b CCNet-style perplexity bucketing (Wenzek et al. LREC'20;
      * [[Corpus.perplexityBuckets]]): per language, rank docs by the
      * corpus-unigram LM proxy (6dp-rounded BEFORE ranking, doc_id
      * tiebreak — the engine-portable ordering contract) and ntile into
      * head/middle/tail thirds — the equal-population quality split CCNet
      * uses in place of per-language thresholds. One window per language,
      * no join beyond the score computation. */
    Q("q_ccnet_buckets",
      """WITH occ AS (SELECT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents),
              freqs AS (SELECT token, count(*) AS cnt FROM occ GROUP BY 1),
              tot AS (SELECT sum(cnt) AS t_occ, count(*) AS v_size FROM freqs),
              score AS (SELECT doc_id,
                          round(avg(ln(CAST(cnt + 1 AS DOUBLE) / (t_occ + v_size))), 6)
                            AS ml
                        FROM occ JOIN freqs USING (token), tot
                        GROUP BY doc_id),
              scored AS (SELECT s.doc_id, d.lang, -s.ml AS ppl_proxy
                         FROM score s JOIN documents d USING (doc_id))
         SELECT doc_id, lang, ppl_proxy,
                CAST(ntile(3) OVER (PARTITION BY lang
                  ORDER BY ppl_proxy ASC, doc_id ASC) AS BIGINT) AS bucket
         FROM scored""") { (s, d) =>
      val scored = TextAnalytics
        .unigramLogLik(Tables.documents(s, d), "doc_id", "text")
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        // CCNet orders by perplexity ASC (best first); the loglik proxy is
        // its negation, already rounded at 6dp by unigramLogLik
        .withColumn("ppl_proxy", -col("mean_loglik"))
      Corpus.perplexityBuckets(scored, "lang", "doc_id", "ppl_proxy", n = 3)
        .select(col("doc_id"), col("lang"), col("ppl_proxy"),
          col("bucket").cast("long").as("bucket"))
    },

    /** §2b robust outlier fences: per-language Tukey IQR over doc length. */
    Q("q_iqr_outliers",
      """WITH stats AS (SELECT lang, quantile_cont(n_chars, 0.25) AS q1,
                               quantile_cont(n_chars, 0.75) AS q3
                        FROM documents GROUP BY lang)
         SELECT doc_id, d.lang, n_chars,
                round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
                round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence,
                (n_chars < q1 - 1.5 * (q3 - q1)
                  OR n_chars > q3 + 1.5 * (q3 - q1)) AS is_outlier
         FROM documents d JOIN stats USING (lang)""") { (s, d) =>
      Corpus.iqrOutliers(Tables.documents(s, d), "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("lo_fence"), 6).as("lo_fence"),
          round(col("hi_fence"), 6).as("hi_fence"),
          col("is_outlier"))
    },

    /** §2b winsorization: clamp doc length into its language's [p5, p95]. */
    Q("q_winsorize",
      """WITH stats AS (SELECT lang, quantile_cont(n_chars, 0.05) AS plo,
                               quantile_cont(n_chars, 0.95) AS phi
                        FROM documents GROUP BY lang)
         SELECT doc_id, d.lang, n_chars,
                round(least(greatest(CAST(n_chars AS DOUBLE), plo), phi), 6)
                  AS n_chars_w
         FROM documents d JOIN stats USING (lang)""") { (s, d) =>
      Corpus.winsorize(Tables.documents(s, d), "lang", "n_chars", "n_chars_w")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("n_chars_w"), 6).as("n_chars_w"))
    },

    /** §2b deterministic epoch shuffle: first 20 docs in epoch-1 order. */
    Q("q_corpus_shuffle",
      """SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
         FROM documents
         ORDER BY shuffle_key, doc_id LIMIT 20""") { (s, d) =>
      Corpus.shuffleKey(Tables.documents(s, d), "doc_id", "epoch1")
        .orderBy(col("shuffle_key").asc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("shuffle_key"))
    },

    /** §2b contribution-bounded DP histogram (user-level DP shape): cap
      * each SOURCE's contribution at C=16 docs (md5-ranked, deterministic),
      * then Laplace(C/ε)-noise the per-lang counts (ε=1) — bounding the
      * unit-of-privacy's influence FIRST is what makes the noise scale
      * meaningful, the step record-level DP releases skip. ε passed as the
      * dyadic 1/16 so the noise scale is exactly −16.0 in both engines. */
    Q("q_dp_contrib_hist",
      """WITH capped AS (SELECT doc_id, lang FROM (
               SELECT doc_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents) WHERE rn <= 16),
              c AS (SELECT lang, COUNT(*) AS t FROM capped GROUP BY 1),
              u AS (SELECT lang, t,
                      CAST(('0x' || substring(md5('dpc:' || CAST(lang AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0 - 0.5 AS uu
                    FROM c)
         SELECT lang,
                round(t + (-16.0) * sign(uu)
                  * ln(greatest(1.0 - 2.0 * abs(uu), 1.0 / 4294967296.0)),
                  6) AS noisy_cnt
         FROM u""") { (s, d) =>
      val capped = Corpus.capPerGroup(
        Tables.documents(s, d), "source", "doc_id", 16)
      ColumnHygiene.noisyCounts(capped.drop("sample_rank"), "lang", 0.0625, "dpc")
    },

    /** §2b deterministic train/val/test split: md5-derived percentage bucket,
      * pure map-side (same assignment on any cluster size / rerun). */
    Q("q_hash_split",
      """SELECT doc_id, pct AS split_pct,
                CASE WHEN pct < 80 THEN 'train'
                     WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 100 AS pct
               FROM documents)""") { (s, d) =>
      Corpus.hashSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select(col("doc_id"), col("split_pct"), col("split"))
    },

    /** §2b token-budget epoch schedule ([[Corpus.epochSchedule]]): τ=2
      * temperature-flattened target mix over sources at a 1×-corpus budget
      * — small sources get upweighted past one epoch (over_epoch=true),
      * large ones run partial epochs, so the flag splits the sources at
      * every SF and the oracle checks shares, targets, epochs AND both
      * verdict branches. n_chars stands in for token mass (any additive
      * size column works). */
    Q("q_epoch_schedule",
      """WITH a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail_tokens
                    FROM documents GROUP BY 1),
              w AS (SELECT source, avail_tokens,
                           sqrt(CAST(avail_tokens AS DOUBLE)) AS wt
                    FROM a),
              t AS (SELECT CAST(sum(CAST(wt AS DECIMAL(28,12))) AS DOUBLE) AS ws,
                           CAST(sum(avail_tokens) AS DOUBLE) AS total FROM w)
         SELECT source, avail_tokens,
                round(wt / ws, 6) AS target_share,
                round(1.0 * total * wt / ws, 6) AS target_tokens,
                round(1.0 * total * wt / ws
                      / CAST(avail_tokens AS DOUBLE), 6) AS epochs,
                round(1.0 * total * wt / ws
                      / CAST(avail_tokens AS DOUBLE), 6) > 1.0 AS over_epoch
         FROM w, t""") { (s, d) =>
      Corpus.epochSchedule(Tables.documents(s, d), "source", "n_chars",
        budgetFactor = 1.0, temperature = 2.0)
    },

    /** §2b per-group cap (deterministic md5-ordered sample): ≤50 docs kept
      * per language. */
    Q("q_group_cap",
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank
         FROM (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents)
         WHERE rn <= 50""") { (s, d) =>
      Corpus.capPerGroup(Tables.documents(s, d), "lang", "doc_id", 50)
        .select(col("doc_id"), col("lang"), col("sample_rank").cast("long").as("sample_rank"))
    },

    /** §2b per-group z-score normalization from plain window sums (exact for
      * the integer-valued quantity column → bit-stable across engines). */
    Q("q_zscore",
      """SELECT l_orderkey, l_linenumber, l_returnflag,
                round((v - s / n)
                  / sqrt(greatest((s2 - (s * s) / n) / (n - 1.0), 0.0)), 6) AS qty_z
         FROM (SELECT l_orderkey, l_linenumber, l_returnflag,
                 CAST(l_quantity AS DOUBLE) AS v,
                 SUM(CAST(l_quantity AS DOUBLE))
                   OVER (PARTITION BY l_returnflag) AS s,
                 SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
                   OVER (PARTITION BY l_returnflag) AS s2,
                 CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS DOUBLE) AS n
               FROM lineitem)""") { (s, d) =>
      Corpus.zscore(Tables.lineitem(s, d), "l_returnflag", "l_quantity", "qty_z")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("qty_z"), 6).as("qty_z"))
    },

    /** §2b fixed-size token chunking (LLM sequence prep): 32-token chunks,
      * stride 32, map-side explode only. */
    Q("q_token_chunks",
      """WITH t AS (SELECT doc_id,
                      CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS toks
                    FROM documents),
              s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
              x AS (SELECT doc_id, toks,
                      UNNEST(generate_series(0, n - 1, 32)) AS start FROM s)
         SELECT doc_id,
                CAST(start // 32 AS BIGINT) AS chunk_id,
                CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_chunk_tokens,
                array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text
         FROM x""") { (s, d) =>
      Corpus.tokenChunks(Tables.documents(s, d), "doc_id", "text", 32, 32)
    },

    /** §2b offset-based sequence packing into 512-token bins per language
      * shard (exact integer arithmetic → reproducible layout). */
    Q("q_pack_bins",
      """WITH t AS (SELECT lang, doc_id,
                      CAST(len(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS BIGINT) AS tok
                    FROM documents),
              r AS (SELECT lang, doc_id, tok,
                      CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) - tok AS bef
                    FROM t)
         SELECT lang, CAST(floor(bef / 512.0) AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(tok) AS BIGINT) AS bin_tokens,
                MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM r GROUP BY lang, bin""") { (s, d) =>
      Corpus.packBins(Tables.documents(s, d), "lang", "doc_id", "text", 512)
    },

    /** §2b stratified deterministic sampling: per-language keep fractions,
      * md5-salted so the decision is independent of the split assignment.
      * Pure map-side (hashUnit is exact in doubles — no ulp drift vs the
      * oracle). */
    Q("q_stratified_sample",
      """SELECT doc_id, lang, sample_frac, sample_u
         FROM (SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.5
                           WHEN 'es' THEN 0.75 ELSE 1.0 END AS sample_frac,
                 CAST(('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) / 4294967296.0 AS sample_u
               FROM documents)
         WHERE sample_u < sample_frac""") { (s, d) =>
      Corpus.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
        Seq("en" -> 0.25, "zh" -> 0.5, "es" -> 0.75))
        .select(col("doc_id"), col("lang"), col("sample_frac"), col("sample_u"))
    },

    /** §2b deterministic weighted sampling (Efraimidis–Spirakis): 20 docs
      * per language, inclusion probability ∝ n_chars. */
    Q("q_weighted_sample",
      """SELECT doc_id, lang, n_chars, es_key, rnk
         FROM (SELECT doc_id, lang, n_chars, es_key,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY es_key ASC, doc_id ASC) AS BIGINT) AS rnk
               FROM (SELECT doc_id, lang, n_chars,
                       round(-ln(CAST(('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) / 4294967296.0) / n_chars, 9) AS es_key
                     FROM documents WHERE n_chars > 0))
         WHERE rnk <= 20""") { (s, d) =>
      Corpus.weightedSample(Tables.documents(s, d), "lang", "doc_id",
        "n_chars", 20)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("es_key"),
          col("rnk"))
    },

    /** §2b incremental aggregate-state merge: state built on pre-1998
      * orders merged with the 1998+ delta must equal the from-scratch
      * aggregate — which is exactly what the oracle computes. */
    Q("q_agg_state_merge",
      """SELECT o_orderstatus,
                count(o_totalprice) AS state_cnt,
                round(sum(o_totalprice), 2) AS state_sum,
                min(o_totalprice) AS state_min,
                max(o_totalprice) AS state_max
         FROM orders GROUP BY 1""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val pre = orders.filter(col("o_orderdate") < lit("1998-01-01"))
      val post = orders.filter(col("o_orderdate") >= lit("1998-01-01"))
      Corpus.mergeAggState(
        Corpus.aggState(pre, "o_orderstatus", "o_totalprice"),
        Corpus.aggState(post, "o_orderstatus", "o_totalprice"),
        "o_orderstatus")
        .select(col("o_orderstatus"), col("state_cnt"),
          round(col("state_sum"), 2).as("state_sum"),
          col("state_min"), col("state_max"))
    },

    /** §2b mergeable distinct-count state (HLL sketches), hash-checkable:
      * the sketch estimate is not SQL-reproducible, so the output carries
      * the exact side plus TWO deterministic acceptance verdicts the
      * oracle pins to TRUE — `merge_close_to_scratch` (state merged across
      * the 1998 cutoff estimates within 2% of a from-scratch sketch: union
      * is lossless in sparse mode and drifts well under the rsd after HLL
      * promotion — measured ≤1% at 14k keys) and `within_bound`
      * (|est − exact|/exact ≤ 0.05 ≈ 3·rsd at the default lgConfigK=12).
      * CorpusSpec pins exact merge==scratch equality in sparse mode on a
      * constructed fixture. */
    Q("q_hll_state_merge",
      """SELECT o_orderstatus,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
                TRUE AS merge_close_to_scratch, TRUE AS within_bound
         FROM orders GROUP BY 1""") { (s, d) =>
      val orders = Tables.orders(s, d)
      val pre = orders.filter(col("o_orderdate") < lit("1998-01-01"))
      val post = orders.filter(col("o_orderdate") >= lit("1998-01-01"))
      val merged = Corpus.mergeDistinctState(
        Corpus.distinctState(pre, "o_orderstatus", "o_custkey"),
        Corpus.distinctState(post, "o_orderstatus", "o_custkey"),
        "o_orderstatus")
        .select(col("o_orderstatus"), col("n_distinct_est").as("__merged"))
      val scratch = Corpus.distinctState(orders, "o_orderstatus", "o_custkey")
        .select(col("o_orderstatus"),
          hll_sketch_estimate(col("distinct_sketch")).as("__scratch"))
      val exact = orders.groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.join(merged, Seq("o_orderstatus"))
        .join(scratch, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_exact"),
          (abs(col("__merged") - col("__scratch")).cast("double")
            / col("n_exact") <= 0.02).as("merge_close_to_scratch"),
          (abs(col("__merged") - col("n_exact")).cast("double")
            / col("n_exact") <= 0.05).as("within_bound"))
    },

    /** §2b Horvitz–Thompson estimation ([[Corpus.htEstimate]]) over the
      * deterministic stratified sample: per source, the sample-only
      * unbiased reconstruction of the full corpus row count and n_chars
      * total (± Poisson variance), emitted NEXT TO the true totals so the
      * ratio column is the standing calibration check. Dyadic fractions
      * make every summand exact — order-independent at any parallelism. */
    Q("q_horvitz_thompson",
      """WITH f AS (SELECT source, doc_id, n_chars,
                      CASE WHEN source = 'src0' THEN 0.5
                           WHEN source = 'src1' THEN 0.25
                           ELSE 0.125 END AS p,
                      CAST(('0x' || substring(md5('strat:' ||
                        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        / 4294967296.0 AS u
                    FROM documents),
              kept AS (SELECT * FROM f WHERE u < p),
              est AS (SELECT source, count(*) AS n_kept,
                        round(sum(1.0 / p), 6) AS ht_count,
                        round(sum(CAST(n_chars AS DOUBLE) / p), 6) AS ht_total,
                        round(sum(CAST(n_chars AS DOUBLE) * n_chars
                          * (1.0 - p) / (p * p)), 6) AS ht_variance
                      FROM kept GROUP BY 1),
              tru AS (SELECT source, count(*) AS n_true,
                        CAST(sum(n_chars) AS BIGINT) AS true_total
                      FROM documents GROUP BY 1)
         SELECT t.source, t.n_true, t.true_total, e.n_kept, e.ht_count,
                e.ht_total, e.ht_variance,
                round(e.ht_total / t.true_total, 6) AS ratio
         FROM tru t JOIN est e USING (source)""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val kept = Corpus.stratifiedSample(docs, "source", "doc_id",
        Seq("src0" -> 0.5, "src1" -> 0.25), defaultFraction = 0.125)
      val est = Corpus.htEstimate(kept, "source", "n_chars", "sample_frac")
      val truth = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_true"), sum(col("n_chars")).as("true_total"))
      truth.join(est, Seq("source"))
        .withColumn("ratio", round(col("ht_total") / col("true_total"), 6))
    },

    /** §2b temperature rebalancing (alpha=0.5): en is ~3.4× fr in the
      * documents table; after resampling, effective sizes follow n^0.5 —
      * the multilingual-LLM mixing rule. */
    Q("q_temperature_mix",
      """WITH counts AS (SELECT lang, COUNT(*) AS n_group
                         FROM documents GROUP BY lang),
              stats AS (SELECT lang, n_group,
                          ROUND(POW(CAST(n_group AS DOUBLE)
                            / (SELECT MIN(n_group) FROM counts), -0.5), 6) AS keep_frac
                        FROM counts)
         SELECT doc_id, lang, n_group, keep_frac, mix_u
         FROM (SELECT d.doc_id, d.lang, s.n_group, s.keep_frac,
                 CAST(('0x' || substring(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) / 4294967296.0 AS mix_u
               FROM documents d JOIN stats s ON d.lang = s.lang)
         WHERE mix_u < keep_frac""") { (s, d) =>
      Corpus.temperatureResample(Tables.documents(s, d), "lang", "doc_id", 0.5)
        .select(col("doc_id"), col("lang"), col("n_group"), col("keep_frac"),
          col("mix_u"))
    },

    /** §2b length-distribution flattening: deterministic rejection sampling
      * of docs to a uniform target over 200-char length bins — the
      * length-bias correction pass ([[Corpus.matchDistribution]]; keep
      * probability per bin is the exact rational n_min/n_bin). */
    Q("q_dist_match",
      """WITH b AS (SELECT doc_id AS id,
                           CAST(floor(n_chars / 200) AS BIGINT) AS bin
                    FROM documents),
              c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_before
                    FROM b GROUP BY 1),
              m AS (SELECT CAST(min(n_before) AS BIGINT) AS mn,
                           CAST(sum(n_before) AS BIGINT) AS tot FROM c),
              q AS (SELECT bin, n_before, tot,
                           CAST(mn AS DOUBLE) / n_before AS qk
                    FROM c, m),
              k AS (SELECT b.bin, CAST(count(*) AS BIGINT) AS n_kept
                    FROM b JOIN q USING (bin)
                    WHERE CAST(('0x' || substring(
                            md5('flat:' || CAST(id AS VARCHAR)), 1, 8))
                          AS BIGINT) / 4294967296.0 < qk
                    GROUP BY 1),
              tk AS (SELECT CAST(sum(n_kept) AS BIGINT) AS tkn FROM k)
         SELECT q.bin, q.n_before, COALESCE(k.n_kept, 0) AS n_kept,
                round(qk, 6) AS q_keep,
                round(CAST(q.n_before AS DOUBLE) / q.tot, 6) AS share_before,
                round(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / tk.tkn, 6)
                  AS share_after
         FROM q LEFT JOIN k ON q.bin = k.bin, tk""") { (s, d) =>
      Corpus.matchDistribution(Tables.documents(s, d), "doc_id", "n_chars",
        200L, "flat")
    },

    /** §2b leave-one-out source ablation of doc length — which source's
      * removal moves the corpus mean most ([[Corpus.sourceAblation]]; the
      * pre-Shapley curation readout). */
    Q("q_source_ablation",
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                           CAST(sum(n_chars) AS BIGINT) AS s
                    FROM documents GROUP BY 1),
              t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tn,
                           CAST(sum(s) AS BIGINT) AS ts FROM g)
         SELECT source, n_rows,
                round(CAST(s AS DOUBLE) / n_rows, 6) AS group_mean,
                CASE WHEN tn > n_rows
                     THEN round(CAST(ts - s AS DOUBLE) / (tn - n_rows), 6)
                     END AS loo_mean,
                CASE WHEN tn > n_rows
                     THEN round(CAST(ts - s AS DOUBLE) / (tn - n_rows)
                                - CAST(ts AS DOUBLE) / tn, 6)
                     END AS ablation_delta
         FROM g, t""") { (s, d) =>
      Corpus.sourceAblation(Tables.documents(s, d), "source", "n_chars")
    },

    /** §2b per-source quantile-rank normalization of doc length with a
      * uniform 20%-tail gate ([[Corpus.quantileRank]]) — the calibrated
      * quality filter: the threshold drops the same fraction per source. */
    Q("q_quantile_norm",
      """SELECT doc_id, source, n_chars,
                round(percent_rank() OVER (PARTITION BY source
                                           ORDER BY n_chars ASC), 6)
                  AS pct_rank,
                round(percent_rank() OVER (PARTITION BY source
                                           ORDER BY n_chars ASC), 6) >= 0.2
                  AS keep_doc
         FROM documents""") { (s, d) =>
      Corpus.quantileRank(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "n_chars")
        .withColumn("keep_doc", col("pct_rank") >= 0.2)
    },

    /** §2b length-grouped batching audit: per (source, 16-doc batch) dense-
      * rectangle padding waste under length-sorted batching
      * ([[Corpus.lengthGroupedBatches]]). */
    Q("q_padding_waste",
      s"""WITH tok AS (SELECT source, doc_id, CAST(len(t) AS BIGINT) AS n
                       FROM (SELECT source, doc_id, $duckTokens AS t
                             FROM documents)),
              r AS (SELECT source, n,
                           ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY n DESC, doc_id ASC) AS rn
                    FROM tok),
              b AS (SELECT source,
                           CAST(floor((rn - 1) / 16.0) AS BIGINT) AS batch, n
                    FROM r)
         SELECT source, batch, CAST(count(*) AS BIGINT) AS n_docs,
                max(n) AS max_tokens, CAST(sum(n) AS BIGINT) AS sum_tokens,
                CAST(count(*) * max(n) - sum(n) AS BIGINT) AS padding_waste,
                CASE WHEN count(*) * max(n) > 0
                     THEN round(CAST(count(*) * max(n) - sum(n) AS DOUBLE)
                                / (count(*) * max(n)), 6) END AS pad_frac
         FROM b GROUP BY 1, 2""") { (s, d) =>
      Corpus.lengthGroupedBatches(Tables.documents(s, d), "source", "doc_id",
        "text", 16)
    },

    /** §2b difference-in-differences ([[Stats.diffInDiff]]): hash-assigned
      * arms (the q_cuped assignment), post = the 2024-01-15 cutoff, over
      * event values — the trend-netting 2×2 completing the experimentation
      * battery (Welch: no time; CUPED: variance reduction; DiD: secular
      * trend). One 4-cell aggregate + a pivot row. */
    Q("q_diff_in_diff",
      """WITH base AS (SELECT value,
                        CASE WHEN CAST(('0x' || substring(md5(
                            CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                            % 100 < 50
                          THEN 'a' ELSE 'b' END AS arm,
                        ts >= TIMESTAMP '2024-01-15' AS post
                      FROM events WHERE value IS NOT NULL),
              cells AS (SELECT arm, post, count(*) AS n, avg(value) AS m,
                          var_samp(value) AS s2
                        FROM base GROUP BY 1, 2),
              wide AS (SELECT
                max(CASE WHEN arm = 'a' AND NOT post THEN n END) AS n_t_pre,
                max(CASE WHEN arm = 'a' AND post THEN n END) AS n_t_post,
                max(CASE WHEN arm = 'b' AND NOT post THEN n END) AS n_c_pre,
                max(CASE WHEN arm = 'b' AND post THEN n END) AS n_c_post,
                max(CASE WHEN arm = 'a' AND NOT post THEN m END) AS m_t_pre,
                max(CASE WHEN arm = 'a' AND post THEN m END) AS m_t_post,
                max(CASE WHEN arm = 'b' AND NOT post THEN m END) AS m_c_pre,
                max(CASE WHEN arm = 'b' AND post THEN m END) AS m_c_post,
                max(CASE WHEN arm = 'a' AND NOT post THEN s2 END) AS v_t_pre,
                max(CASE WHEN arm = 'a' AND post THEN s2 END) AS v_t_post,
                max(CASE WHEN arm = 'b' AND NOT post THEN s2 END) AS v_c_pre,
                max(CASE WHEN arm = 'b' AND post THEN s2 END) AS v_c_post
                FROM cells)
         SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
                CAST(n_t_post AS BIGINT) AS n_t_post,
                CAST(n_c_pre AS BIGINT) AS n_c_pre,
                CAST(n_c_post AS BIGINT) AS n_c_post,
                round(m_t_pre, 6) AS m_t_pre,
                round(m_t_post, 6) AS m_t_post,
                round(m_c_pre, 6) AS m_c_pre,
                round(m_c_post, 6) AS m_c_post,
                round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did,
                round(sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre
                  + v_c_post / n_c_post + v_c_pre / n_c_pre), 6) AS did_se,
                CASE WHEN round(sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre
                    + v_c_post / n_c_post + v_c_pre / n_c_pre), 6) > 0 THEN
                  round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                    / sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre
                      + v_c_post / n_c_post + v_c_pre / n_c_pre), 6) END
                  AS t_stat
         FROM wide""") { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("arm",
          when(Corpus.hashPct(col("user_id")) < 50, "a").otherwise("b"))
        .withColumn("post", col("ts") >= lit("2024-01-15").cast("timestamp"))
      Stats.diffInDiff(ev, "arm", treatArm = "a", controlArm = "b",
        "post", "value")
    },

    /** FLAGSHIP §2b composition — the end-to-end corpus-curation pipeline
      * as ONE dataflow: quality gate (hashed linear classifier) → exact-dup
      * survivorship (longest copy wins) → deterministic train/val split →
      * fixed-size token chunking. Every stage is an already-oracle-checked
      * operator; this query pins that they COMPOSE (filters stay pushed
      * through the semi-joins, the split assignment is stable under the
      * upstream dedup, chunk ids survive the final join). The lazy plan
      * fuses the whole chain: the documents scan happens once per aggregate
      * consumer, nothing materializes between stages. */
    Q("q_curation_pipeline",
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents),
              e AS (SELECT doc_id, UNNEST(toks) AS token FROM t),
              sc AS (SELECT doc_id,
                       $classifierTokenSumSql
                     FROM e GROUP BY doc_id),
              kept AS (SELECT d.* FROM documents d
                       LEFT JOIN sc ON sc.doc_id = d.doc_id
                       WHERE $classifierBiasSql + COALESCE(sc.sw, 0.0) > 0.0),
              r AS (SELECT doc_id,
                      ROW_NUMBER() OVER (PARTITION BY
                        md5(regexp_replace(lower(text), '[^0-9a-z]', '', 'g'))
                        ORDER BY n_chars DESC, doc_id ASC) AS rn
                    FROM kept),
              ded AS (SELECT k.* FROM kept k
                      JOIN r ON r.doc_id = k.doc_id AND r.rn = 1),
              sp AS (SELECT doc_id, text,
                       CASE WHEN CAST(('0x' ||
                           substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 100 < 90
                         THEN 'train' ELSE 'val' END AS split
                     FROM ded),
              tk AS (SELECT doc_id, split, $duckTokens AS toks FROM sp),
              s2 AS (SELECT doc_id, split, toks, len(toks) AS n
                     FROM tk WHERE len(toks) > 0),
              x AS (SELECT doc_id, split, toks,
                      UNNEST(generate_series(0, n - 1, 32)) AS start
                    FROM s2)
         SELECT doc_id, split,
                CAST(start // 32 AS BIGINT) AS chunk_id,
                CAST(len(toks[start + 1 : start + 32]) AS BIGINT)
                  AS n_chunk_tokens,
                array_to_string(toks[start + 1 : start + 32], ' ')
                  AS chunk_text
         FROM x""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val kept = docs.join(
        TextAnalytics.hashedLinearScore(docs, "doc_id", "text",
            classifierWeights, classifierBias)
          .filter(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val survivors = Dedup.keepBestCopy(kept, "doc_id", "text", "n_chars")
        .select(col("keep_id").as("doc_id"))
      val deduped = kept.join(survivors, Seq("doc_id"), "left_semi")
      val split = Corpus.hashSplit(deduped, "doc_id",
        Seq("train" -> 90, "val" -> 100))
      Corpus.tokenChunks(split, "doc_id", "text", chunkSize = 32, stride = 32)
        .join(split.select(col("doc_id"), col("split")), Seq("doc_id"))
        .select(col("doc_id"), col("split"), col("chunk_id"),
          col("n_chunk_tokens"), col("chunk_text"))
    },

    /** §2b Poisson-bootstrap uncertainty: 32 deterministic resamples of
      * per-doc n_chars — the spread of boot_mean across replicates IS the
      * sampling distribution of the corpus mean (quantile it for a CI);
      * map-side fan-out into one aggregate, no RNG, no second pass. */
    Q("q_bootstrap",
      s"""WITH reps AS (SELECT UNNEST(generate_series(0, 31)) AS r),
              u AS (SELECT r, n_chars,
                      CAST(('0x' || substring(md5('boot:' || CAST(r AS VARCHAR)
                        || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        / 4294967296.0 AS u
                    FROM documents, reps),
              k AS (SELECT r, n_chars,
                      CASE ${Corpus.poissonCdfLiterals.zipWithIndex
                        .map { case (t, i) => s"WHEN u < $t THEN $i" }
                        .mkString(" ")} ELSE 8 END AS w
                    FROM u)
         SELECT CAST(r AS BIGINT) AS r, CAST(sum(w) AS BIGINT) AS n_eff,
                round(CASE WHEN sum(w) > 0 THEN
                  CAST(sum(w * n_chars) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
                  END, 6) AS boot_mean
         FROM k GROUP BY r""") { (s, d) =>
      Corpus.bootstrapMeans(Tables.documents(s, d), "doc_id", "n_chars")
    },

    /** §2b CUPED variance reduction: per-user pre/post value sums split at
      * 2024-01-15, deterministic md5 arm assignment, pooled θ — the A/B
      * readout that shrinks the CI for free; aggregates only. */
    Q("q_cuped",
      """WITH units AS (SELECT user_id,
               coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                 THEN value END), 0.0) AS x,
               coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                 THEN value END), 0.0) AS y,
               CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 100 < 50
                 THEN 'a' ELSE 'b' END AS arm
             FROM events GROUP BY user_id),
              pooled AS (SELECT avg(x) AS xbar, covar_samp(x, y) AS cov,
                                var_samp(x) AS varx
                         FROM units),
              adj AS (SELECT arm, y,
                        y - (CASE WHEN varx > 0 THEN cov / varx ELSE 0.0 END)
                          * (x - xbar) AS ya
                      FROM units, pooled)
         SELECT arm, CAST(count(*) AS BIGINT) AS n,
                round(avg(y), 6) AS mean_y,
                round(avg(ya), 6) AS mean_y_adj,
                round(var_samp(y), 6) AS var_y,
                round(var_samp(ya), 6) AS var_y_adj,
                round(CASE WHEN var_samp(y) > 0
                  THEN 1.0 - var_samp(ya) / var_samp(y) END, 6)
                  AS var_reduction
         FROM adj GROUP BY arm""") { (s, d) =>
      val split = lit("2024-01-15").cast("timestamp")
      val units = Tables.events(s, d).groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < split, col("value"))), lit(0.0))
            .as("x_pre"),
          coalesce(sum(when(col("ts") >= split, col("value"))), lit(0.0))
            .as("y"))
        .withColumn("arm",
          when(Corpus.hashPct(col("user_id")) < 50, "a").otherwise("b"))
      Stats.cupedAdjusted(units, "arm", "x_pre", "y")
    },

    /** §2b count-min sketch eval: 4×256 md5-bucketed sketch of the token
      * stream, point estimates vs exact counts for the top-20 tokens —
      * one-sided est ≥ truth guarantee, vocab-sized fan-out only. */
    Q("q_countmin",
      s"""WITH counts AS (SELECT token AS item, count(*) AS true_cnt
                          FROM (SELECT UNNEST($duckTokens) AS token
                                FROM documents)
                          GROUP BY 1),
              hashed AS (SELECT item, true_cnt, j,
                           CAST(('0x' || substring(md5(CAST(j AS VARCHAR)
                             || ':' || item), 1, 8)) AS BIGINT) % 256
                             AS bucket
                         FROM counts,
                           (SELECT UNNEST(generate_series(0, 3)) AS j)),
              sketch AS (SELECT j, bucket, sum(true_cnt) AS cell
                         FROM hashed GROUP BY 1, 2),
              top AS (SELECT item, true_cnt FROM counts
                      ORDER BY true_cnt DESC, item ASC LIMIT 20)
         SELECT t.item, CAST(t.true_cnt AS BIGINT) AS true_cnt,
                CAST(min(s2.cell) AS BIGINT) AS cm_est
         FROM top t
         JOIN hashed h ON h.item = t.item
         JOIN sketch s2 ON s2.j = h.j AND s2.bucket = h.bucket
         GROUP BY 1, 2""") { (s, d) =>
      Corpus.countMinEstimates(
        Tables.documents(s, d)
          .select(explode(TextFunctions.tokens(col("text"))).as("token")),
        "token")
    },

    /** §2b exact-total proportional sample: a 100-doc slice apportioned
      * across sources by largest remainder — Σ quota == budget exactly,
      * same md5 survivor order as group_cap; the "build an exactly-N-doc
      * eval set" op. */
    Q("q_quota_sample",
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
              t AS (SELECT sum(n) AS tot FROM c),
              b AS (SELECT source, n, (100 * n) // tot AS q0,
                           (100 * n) % tot AS rem
                    FROM c, t),
              lo AS (SELECT 100 - sum(q0) AS leftover FROM b),
              r AS (SELECT source, n, q0,
                           row_number() OVER (ORDER BY rem DESC, source ASC)
                             AS rk
                    FROM b),
              quota AS (SELECT source,
                          least(n, q0 + (CASE WHEN rk <= leftover
                            THEN 1 ELSE 0 END)) AS q
                        FROM r, lo),
              ranked AS (SELECT doc_id, source,
                           row_number() OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                               doc_id ASC) AS rn
                         FROM documents)
         SELECT doc_id, source
         FROM ranked JOIN quota USING (source)
         WHERE rn <= q""") { (s, d) =>
      Corpus.quotaSample(Tables.documents(s, d), "source", "doc_id", 100L)
        .select(col("doc_id"), col("source"))
    },

    /** §2b k-truss edge backbone: hash-thinned co-purchase graph peeled
      * until every surviving edge closes ≥ 2 triangles within the
      * survivor set (k = 4) — the edge-level community core one rung
      * above q_kcore, with each edge's final within-truss support. */
    Q("q_ktruss", ktrussOracleSql(rounds = 6, k = 4, thin = 0.12)) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      val pp = li.as("a")
        .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
        .distinct()
        .filter(Corpus.hashUnit(concat(col("x").cast("string"), lit(":"),
          col("y").cast("string")), "ktruss") < 0.12)
      Graph.kTruss(pp.select(col("x").as("src"), col("y").as("dst")), k = 4)
    },

    /** §2b sketch-only audience overlap: distinct clickers ∩ viewers per
      * market segment via HLL inclusion–exclusion, pinned against the
      * exact counts with union-scaled acceptance booleans (the sketch
      * stays sparse-exact at harness cardinalities; the bound is the
      * production contract). */
    Q("q_distinct_intersection",
      """WITH e AS (SELECT c.c_mktsegment AS seg, e.user_id AS u,
                           e.event_type AS t
                    FROM events e JOIN customer c ON e.user_id = c.c_custkey
                    WHERE e.event_type IN ('click', 'view')),
              ca AS (SELECT seg, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_a
                     FROM e WHERE t = 'click' GROUP BY 1),
              cb AS (SELECT seg, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_b
                     FROM e WHERE t = 'view' GROUP BY 1),
              cu AS (SELECT seg, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_u
                     FROM e GROUP BY 1),
              ci AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_i FROM (
                       SELECT DISTINCT seg, u FROM e WHERE t = 'click'
                       INTERSECT
                       SELECT DISTINCT seg, u FROM e WHERE t = 'view')
                     GROUP BY 1)
         SELECT cu.seg AS c_mktsegment,
                COALESCE(ca.n_a, 0) AS n_exact_click,
                COALESCE(cb.n_b, 0) AS n_exact_view,
                cu.n_u AS n_exact_union,
                COALESCE(ci.n_i, 0) AS n_exact_intersection,
                TRUE AS union_within_bound,
                TRUE AS intersection_within_bound
         FROM cu
         LEFT JOIN ca ON cu.seg = ca.seg
         LEFT JOIN cb ON cu.seg = cb.seg
         LEFT JOIN ci ON cu.seg = ci.seg""") { (s, d) =>
      val e = Tables.events(s, d)
        .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
      val clicks = e.filter(col("event_type") === "click")
      val views = e.filter(col("event_type") === "view")
      val est = Corpus.distinctIntersection(clicks, views,
        "c_mktsegment", "user_id")
      val exactU = e.filter(col("event_type").isin("click", "view"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("user_id")).as("n_exact_union"))
      val exactA = clicks.groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("user_id")).as("n_exact_click"))
      val exactB = views.groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("user_id")).as("n_exact_view"))
      val exactI = clicks.select(col("c_mktsegment"), col("user_id")).distinct()
        .join(views.select(col("c_mktsegment"), col("user_id")).distinct(),
          Seq("c_mktsegment", "user_id"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_exact_intersection"))
      exactU
        .join(exactA, Seq("c_mktsegment"), "left")
        .join(exactB, Seq("c_mktsegment"), "left")
        .join(exactI, Seq("c_mktsegment"), "left")
        .join(est, Seq("c_mktsegment"))
        .select(col("c_mktsegment"),
          coalesce(col("n_exact_click"), lit(0L)).as("n_exact_click"),
          coalesce(col("n_exact_view"), lit(0L)).as("n_exact_view"),
          col("n_exact_union"),
          coalesce(col("n_exact_intersection"), lit(0L))
            .as("n_exact_intersection"),
          (abs(col("est_union") - col("n_exact_union")).cast("double")
            <= lit(0.02) * col("n_exact_union").cast("double") + lit(1.0))
            .as("union_within_bound"),
          (abs(col("est_intersection")
              - coalesce(col("n_exact_intersection"), lit(0L))).cast("double")
            <= lit(0.05) * col("n_exact_union").cast("double") + lit(1.0))
            .as("intersection_within_bound"))
    },

    /** §2b effective sample size: per nation, how many equally-weighted
      * suppliers its lineitem volume is actually worth — Kish ESS over
      * per-supplier item counts, the supplier-concentration readout. */
    Q("q_ess",
      """WITH w AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS w
                    FROM lineitem GROUP BY 1),
              j AS (SELECT s.s_nationkey, CAST(w.w AS DOUBLE) AS w
                    FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey),
              a AS (SELECT s_nationkey,
                           CAST(COUNT(*) AS BIGINT) AS n_units,
                           SUM(w) AS sw, SUM(w * w) AS sww
                    FROM j GROUP BY 1)
         SELECT s_nationkey, n_units, sw AS sum_w,
                CASE WHEN sww > 0 THEN sw * sw / sww END AS ess,
                CASE WHEN sww > 0
                  THEN (sw * sw / sww) / CAST(n_units AS DOUBLE) END
                  AS ess_ratio
         FROM a""") { (s, d) =>
      val perSupp = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("w"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      Corpus.effectiveSampleSize(perSupp, "s_nationkey", "w")
    },

    /** §2b DoReMi-style domain reweighting step over the sources: unigram
      * cross-entropy excess → multiplicative weight update — the
      * principled mixture move beside q_temperature_mix's hand exponent. */
    Q("q_doremi",
      s"""WITH tok AS (SELECT source AS g, UNNEST($duckTokens) AS w
                       FROM documents),
              st AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
                     FROM tok GROUP BY 1, 2),
              vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS ct
                        FROM st GROUP BY 1),
              tot AS (SELECT CAST(sum(c) AS DOUBLE) AS nn FROM st),
              ps AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                       -sum(CAST(c AS DOUBLE)
                           * ln(CAST(ct AS DOUBLE) / nn))
                         / CAST(sum(c) AS DOUBLE) AS loss
                     FROM st JOIN vocab USING (w), tot GROUP BY g, nn),
              corp AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt,
                         sum(loss * CAST(n_tokens AS DOUBLE))
                           / CAST(sum(n_tokens) AS DOUBLE) AS base
                       FROM ps),
              sc AS (SELECT g, n_tokens, loss, base,
                       CAST(n_tokens AS DOUBLE) / tt AS share,
                       CAST(n_tokens AS DOUBLE) / tt
                         * exp(1.0 * (loss - base)) AS raw
                     FROM ps, corp),
              z AS (SELECT sum(raw) AS zz FROM sc)
         SELECT g AS source, n_tokens, round(loss, 6) AS loss,
                round(loss - base, 6) AS excess_loss,
                round(share, 6) AS share_before,
                round(raw / zz, 6) AS weight_after
         FROM sc, z""") { (s, d) =>
      Corpus.domainReweight(Tables.documents(s, d), "source", "text",
        eta = 1.0)
    },

    /** §2b water-filling allocation of a 50% token budget across
      * sources — max-min-fair hard-budget capping (every source below
      * the level keeps all; giants cut to a common level), the budgeted
      * companion to q_temperature_mix. */
    Q("q_water_fill",
      """WITH ps AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS supply
                     FROM documents GROUP BY 1),
              t AS (SELECT source, supply,
                      SUM(supply) OVER () AS tot, COUNT(*) OVER () AS n,
                      ROW_NUMBER() OVER (ORDER BY supply, source) AS k,
                      COALESCE(SUM(supply) OVER (ORDER BY supply, source
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cumb
                    FROM ps),
              l AS (SELECT *, (CAST(tot AS DOUBLE) * 0.5
                        - CAST(cumb AS DOUBLE))
                      / CAST(n - k + 1 AS DOUBLE) AS lamk
                    FROM t),
              lev AS (SELECT arg_min(lamk, k) AS lambda
                      FROM l WHERE lamk <= CAST(supply AS DOUBLE)),
              f AS (SELECT source, supply, lambda,
                      CASE WHEN lambda IS NOT NULL
                        THEN least(CAST(supply AS DOUBLE), lambda)
                        ELSE CAST(supply AS DOUBLE) END AS alloc
                    FROM l, lev)
         SELECT source, supply, lambda AS water_level,
                alloc AS allocation,
                CASE WHEN supply > 0
                  THEN alloc / CAST(supply AS DOUBLE) END AS share_kept
         FROM f""") { (s, d) =>
      Corpus.waterFill(Tables.documents(s, d), "source", col("n_chars"),
        budgetFrac = 0.5)
    },
  )
}
