package graft
package queries

import graft.operators._
import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analytics and text-function queries: tokens, language ID,
  * n-gram models, quality signals, retrieval scoring and BPE. */
object TextQueries {
  import Shared._

  /** Generated oracle for q_textrank: the SAME unrolled 3-iteration
    * PageRank recurrence as q_pagerank ([[Shared.uniformPageRankSql]]),
    * over the word co-occurrence graph (adjacent-token pairs with
    * support >= 5, undirected, both directions). */
  private def textRankOracleSql: String =
    s"""WITH tok AS (SELECT $duckTokens AS t
                     FROM documents),
            bc AS (SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS c
                   FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
                   GROUP BY 1, 2),
            ep AS (SELECT DISTINCT least(w1, w2) AS src,
                          greatest(w1, w2) AS dst
                   FROM bc WHERE c >= 5 AND w1 <> w2),
            $uniformPageRankSql
        SELECT id AS keyword, round(rank, 9) AS rank FROM r3
        ORDER BY rank DESC, keyword ASC LIMIT 30"""

  /** Generated BPE-training oracle: the same unrolled merge rounds as
    * [[operators.TextAnalytics.bpeTrain]] over the U+001F-wrapped vocab.
    * Every w_r is referenced by both the next round's pair count and the
    * next merge, so each level is MATERIALIZED (non-materialized CTEs
    * inline per reference → 2^rounds copies of the base plan). `replace`
    * scans left-to-right non-overlapping in both engines — BPE's merge
    * order — and the winning pair flows through CTE columns, never
    * through string literals. */
  private def bpeCtes(rounds: Int): String = {
    val S = "chr(31)"
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT s[i] AS a, s[i + 1] AS b, c FROM (
              SELECT string_split(trim(w, $S), $S || $S) AS s, c
              FROM w${r - 1}) t,
              UNNEST(generate_series(1, len(s) - 1)) AS u(i)
            WHERE len(s) >= 2),
          b$r AS MATERIALIZED (
            SELECT a, b, CAST(sum(c) AS BIGINT) AS cnt FROM p$r
            GROUP BY 1, 2 ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
          w$r AS MATERIALIZED (
            SELECT replace(p.w, $S || b.a || $S || $S || b.b || $S,
                           $S || b.a || b.b || $S) AS w, p.c
            FROM w${r - 1} p, b$r b)"""
    }
    s"""w0 AS MATERIALIZED (
          SELECT regexp_replace(word, '(.)', $S || '\\1' || $S, 'g') AS w,
                 CAST(count(*) AS BIGINT) AS c
          FROM (SELECT u.word AS word FROM documents,
                  UNNEST($duckTokens) AS u(word)
                WHERE length(u.word) > 0 AND NOT contains(u.word, $S)) t
          GROUP BY word),
        ${roundCtes.mkString(",\n        ")}"""
  }

  private def bpeOracleSql(rounds: Int): String = {
    val selects = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"cnt AS pair_count, a || b AS merged FROM b$r")
    s"""WITH ${bpeCtes(rounds)}
        ${selects.mkString("\n        UNION ALL ")}"""
  }

  /** The training CTE chain, then every document wrapped and pushed
    * through the same rank-ordered replace chain (the b_r winners are
    * 1-row CTEs cross-joined in): `e(doc_id, n_words, n_subwords)`. */
  private def bpeEncodedSql(rounds: Int): String = {
    val S = "chr(31)"
    val enc = (1 to rounds).foldLeft("wd.wd")((acc, r) =>
      s"replace($acc, $S || b$r.a || $S || $S || b$r.b || $S, " +
        s"$S || b$r.a || b$r.b || $S)")
    val froms = (1 to rounds).map(r => s"b$r").mkString(", ")
    s"""WITH ${bpeCtes(rounds)},
        wd AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_words,
                      array_to_string(list_transform($duckTokens,
                        w -> regexp_replace(w, '(.)', $S || '\\1' || $S, 'g')),
                        ' ') AS wd
               FROM documents),
        e AS (SELECT wd.doc_id, wd.n_words,
                     (length($enc) - length(replace($enc, $S, ''))) // 2
                       AS n_subwords
              FROM wd, $froms)"""
  }

  /** Generated BPE-encode oracle: [[bpeEncodedSql]] per document. */
  private def bpeEncodeOracleSql(rounds: Int): String =
    s"""${bpeEncodedSql(rounds)}
   SELECT doc_id, n_words, CAST(n_subwords AS BIGINT) AS n_subwords,
          round(CASE WHEN n_words > 0
            THEN CAST(n_subwords AS DOUBLE) / n_words END, 6)
            AS subwords_per_word
   FROM e"""

  /** Generated q_tokenizer_fertility oracle: the q_bpe_encode CTE chain
    * (same trained merges, same wrapped-word replace encoding) joined to
    * each doc's language + char count and aggregated per language. */
  private def fertilityOracleSql(rounds: Int): String =
    s"""${bpeEncodedSql(rounds)},
        j AS (SELECT d.lang, e.n_words,
                     CAST(e.n_subwords AS BIGINT) AS n_subwords, d.n_chars
              FROM e JOIN documents d ON e.doc_id = d.doc_id)
   SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_words) AS BIGINT) AS n_words,
          CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          round(CASE WHEN SUM(n_words) > 0
            THEN CAST(SUM(n_subwords) AS DOUBLE)
               / CAST(SUM(n_words) AS DOUBLE) END, 6) AS subwords_per_word,
          round(CASE WHEN SUM(n_subwords) > 0
            THEN CAST(SUM(n_chars) AS DOUBLE)
               / CAST(SUM(n_subwords) AS DOUBLE) END, 6) AS chars_per_subword
   FROM j GROUP BY 1"""

  /** Generated oracle for q_lang_ngram: profile literals come from the same
    * TextFunctions.trigramProfiles, so Spark and DuckDB score identical
    * trigram sets by construction. */
  private def langNgramOracleSql: String = {
    val tri = """CASE WHEN length(norm) < 3 THEN CAST([] AS VARCHAR[])
                 ELSE [substring(norm, CAST(i AS INT), 3)
                       FOR i IN generate_series(1, length(norm) - 2)] END"""
    def inList(prof: Seq[String]) = prof.map(p => s"'$p'").mkString(", ")
    val scoreCols = TextFunctions.trigramProfiles.map { case (lang, prof) =>
      s"""round(CASE WHEN len(tri) > 0
             THEN CAST(len(list_filter(tri, t -> t IN (${inList(prof)}))) AS DOUBLE) / len(tri)
             ELSE 0.0 END, 6) AS ${lang}_score"""
    }.mkString(", ")
    val rawScores = TextFunctions.trigramProfiles.map { case (lang, prof) =>
      s"""CASE WHEN len(tri) > 0
            THEN CAST(len(list_filter(tri, t -> t IN (${inList(prof)}))) AS DOUBLE) / len(tri)
            ELSE 0.0 END AS ${lang}_raw"""
    }.mkString(", ")
    val best = TextFunctions.trigramProfiles.map(p => s"${p._1}_raw").mkString("greatest(", ", ", ")")
    val guess = TextFunctions.trigramProfiles.foldRight("'unknown'") { case ((lang, _), acc) =>
      s"CASE WHEN ${lang}_raw = best AND best >= 0.05 THEN '$lang' ELSE $acc END"
    }
    s"""WITH n AS (SELECT doc_id, lang AS declared_lang,
                     trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS norm
                   FROM documents),
            t AS (SELECT doc_id, declared_lang, $tri AS tri FROM n),
            s AS (SELECT doc_id, declared_lang, $scoreCols, $rawScores FROM t),
            g AS (SELECT *, $best AS best FROM s)
       SELECT doc_id, declared_lang,
              ${TextFunctions.trigramProfiles.map(p => s"${p._1}_score").mkString(", ")},
              $guess AS lang_guess
       FROM g"""
  }

  /** `pres` (distinct doc × lang × token), per-(lang, token) document
    * counts `pc`, class sizes `cd`, token document counts `td` and the
    * corpus size `nd`: the presence contingency of q_chi2_tokens and
    * q_mi_tokens. */
  private val tokenPresenceSql: String =
    s"""WITH pres AS (SELECT DISTINCT doc_id, lang, token FROM documents,
                          UNNEST($duckTokens) AS u(token)),
              pc AS (SELECT lang, token,
                            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS a
                     FROM pres GROUP BY 1, 2),
              cd AS (SELECT lang, COUNT(*) AS n_class
                     FROM documents GROUP BY 1),
              td AS (SELECT token, COUNT(DISTINCT doc_id) AS n_token
                     FROM pres GROUP BY 1),
              nd AS (SELECT COUNT(*) AS n_docs FROM documents),"""

  /** `tok` … `dfreq`: document lengths, corpus stats and the term
    * frequencies of the literal query terms data/spark/merge — the BM25
    * inputs of q_bm25 and q_rrf. */
  private val bm25TermStatsSql: String =
    s"""WITH tok AS (SELECT doc_id, $duckTokens AS t FROM documents),
              lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tok),
              corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                                avg(dl) AS avgdl FROM lens),
              tf AS (SELECT doc_id, term, count(*) AS tf
                     FROM (SELECT doc_id, UNNEST(t) AS term FROM tok)
                     WHERE term IN ('data', 'spark', 'merge')
                     GROUP BY doc_id, term),
              dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)"""

  /** The `limit` best documents by 6dp BM25 score (k1 1.2, b 0.75) over
    * [[bm25TermStatsSql]]. */
  private def bm25TopSql(limit: Int): String =
    s"""SELECT doc_id, score FROM (
           SELECT f.doc_id,
                  round(sum(ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                    * f.tf * 2.2
                    / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))), 6) AS score
           FROM tf f
           JOIN dfreq d ON f.term = d.term
           JOIN lens l ON f.doc_id = l.doc_id
           CROSS JOIN corpus c
           GROUP BY f.doc_id)
         ORDER BY score DESC, doc_id ASC LIMIT $limit"""

  /** §2b language-ID heuristic vs declared lang. */
  val langId: Q = Q("q_lang_id",
    s"""SELECT doc_id, lang AS declared_lang, $stopwordGuessSql AS lang_guess
         FROM (SELECT doc_id, lang, $stopwordCountsSql
               FROM documents)""") { (s, d) =>
    Tables.documents(s, d).select(col("doc_id"), col("lang").as("declared_lang"),
      TextFunctions.langIdHeuristic(col("text")).as("lang_guess"))
  }

  /** §2b n-gram language ID: per-profile trigram hit ratios + argmax guess
    * (the production-shaped variant of the stopword heuristic q_lang_id). */
  val langNgram: Q = Q("q_lang_ngram", langNgramOracleSql) { (s, d) =>
    // Staged: normalize → trigrams → raw ratios are each materialized as a
    // column so nothing non-cheap is re-evaluated inside a lambda or the
    // argmax when-chain (inlined, the regexp re-runs per trigram: 50×+).
    val profiles = TextFunctions.trigramProfiles
    // pure map-side regexp + profile scoring — widen the unsplittable
    // scan so it runs at session width (r15, guide §2.5)
    val staged = graft.operators.FanOut
      .widen(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("lang").as("declared_lang"),
        TextFunctions.letterNormalize(col("text")).as("__norm"))
      .withColumn("__tri", TextFunctions.charTrigramsOf(col("__norm")))
    val scored = profiles.foldLeft(staged) { case (df, (lang, prof)) =>
      df.withColumn(s"__${lang}_raw",
        TextFunctions.trigramProfileRatio(col("__tri"), prof))
    }
    scored.select(
      Seq(col("doc_id"), col("declared_lang")) ++
        profiles.map { case (lang, _) =>
          round(col(s"__${lang}_raw"), 6).as(s"${lang}_score") } :+
        TextFunctions.langGuessFromScores(
          profiles.map { case (lang, _) => lang -> col(s"__${lang}_raw") })
          .as("lang_guess"): _*)
  }

  val all: Seq[Q] = Seq(
    /** §2b generator with ordinal: posexplode (token position matters for
      * n-gram/window features downstream). */
    Q("q_posexplode",
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS token
         FROM (SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
               FROM documents WHERE doc_id < 30),
              UNNEST(generate_series(1, len(t))) AS u(i)""") { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 30)
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "token")))
        .withColumn("pos", col("pos").cast("long"))
    },

    /** §2b text statistics: token/stopword/char counts. */
    Q("q_token_stats",
      s"""SELECT doc_id,
                CAST(len($duckTokens) AS BIGINT) AS n_tokens,
                CAST(len(list_filter($duckTokens,
                  t -> t IN ('the','a','an','and','or','of','to','in','is','it')))
                  AS BIGINT) AS n_stopwords,
                CAST(length(text) AS BIGINT) AS n_chars_actual
         FROM documents""") { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.stopwordCount(col("text")).cast("long").as("n_stopwords"),
        length(col("text")).cast("long").as("n_chars_actual"))
    },

    /** §2b quality scoring (deterministic blend, rounded). */
    Q("q_text_quality",
      s"""SELECT doc_id, $qualityBlendSql AS quality
         FROM (SELECT doc_id, $qualityInputsSql
               FROM documents)""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
    },

    langId,

    langNgram,

    /** §2b LM-based quality proxy: mean unigram log-likelihood under the
      * corpus's own add-one-smoothed unigram model. */
    Q("q_unigram_loglik",
      """WITH occ AS (SELECT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS token
                      FROM documents),
              freqs AS (SELECT token, count(*) AS cnt FROM occ GROUP BY 1),
              tot AS (SELECT sum(cnt) AS t_occ, count(*) AS v_size FROM freqs)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(CAST(cnt + 1 AS DOUBLE) / (t_occ + v_size))), 6)
                  AS mean_loglik
         FROM occ JOIN freqs USING (token), tot
         GROUP BY doc_id""") { (s, d) =>
      TextAnalytics.unigramLogLik(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b bigram-conditional LM quality proxy (word-order sensitivity on
      * top of q_unigram_loglik's word-choice score). */
    Q("q_bigram_loglik",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents),
              occ AS (SELECT doc_id, t[i] AS w1,
                        array_to_string(t[i:i+1], ' ') AS bigram
                      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              bc AS (SELECT bigram, count(*) AS c_ab FROM occ GROUP BY 1),
              uc AS (SELECT w, count(*) AS c_a
                     FROM (SELECT UNNEST(t) AS w FROM tok) GROUP BY 1),
              v AS (SELECT count(*) AS v_size FROM uc)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(CAST(c_ab + 1 AS DOUBLE) / (c_a + v_size))), 6)
                  AS mean_loglik
         FROM occ JOIN bc USING (bigram) JOIN uc ON occ.w1 = uc.w, v
         GROUP BY doc_id""") { (s, d) =>
      TextAnalytics.bigramLogLik(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b Kneser–Ney smoothed bigram LM quality proxy
      * ([[TextAnalytics.kneserNeyLogLik]]) — the production-grade smoothing
      * (absolute discount + continuation-count backoff, the KenLM default)
      * on top of the add-one (q_bigram_loglik) and Jelinek–Mercer
      * (q_interp_loglik) baselines; all three rank the same docs, so the
      * trio measures how much the smoothing choice moves a quality gate. */
    Q("q_kneser_ney",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents),
              occ AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram
                      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              bc AS (SELECT bigram, count(*) AS c_ab FROM occ GROUP BY 1),
              sp AS (SELECT bigram, c_ab,
                       string_split(bigram, ' ')[1] AS wa,
                       string_split(bigram, ' ')[2] AS wb FROM bc),
              la AS (SELECT wa, CAST(sum(c_ab) AS BIGINT) AS c_a,
                       count(*) AS n1p_a FROM sp GROUP BY 1),
              rb AS (SELECT wb, count(*) AS n1p_b FROM sp GROUP BY 1),
              tt AS (SELECT count(*) AS t_types FROM bc)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(greatest(c_ab - 0.75, 0.0) / c_a
                  + (0.75 * n1p_a / c_a)
                    * (CAST(n1p_b AS DOUBLE) / t_types))), 6) AS mean_loglik
         FROM occ JOIN sp USING (bigram)
              JOIN la USING (wa)
              JOIN rb USING (wb), tt
         GROUP BY doc_id""") { (s, d) =>
      TextAnalytics.kneserNeyLogLik(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b PMI collocation mining: top-100 bigrams by pointwise mutual
      * information with support >= 5. */
    Q("q_ngram_pmi",
      """WITH tok AS (SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents),
              uc AS (SELECT w, count(*) AS c
                     FROM (SELECT UNNEST(t) AS w FROM tok) GROUP BY 1),
              ut AS (SELECT sum(c) AS n_uni FROM uc),
              occ AS (SELECT t[i] AS w1, t[i+1] AS w2,
                        array_to_string(t[i:i+1], ' ') AS bigram
                      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              bc AS (SELECT bigram, any_value(w1) AS w1, any_value(w2) AS w2,
                        count(*) AS c_ab
                     FROM occ GROUP BY 1),
              bt AS (SELECT sum(c_ab) AS n_bi FROM bc)
         SELECT bigram, c_ab, u1.c AS c1, u2.c AS c2,
                round(ln((CAST(c_ab AS DOUBLE) / n_bi) /
                  ((CAST(u1.c AS DOUBLE) / n_uni) * (CAST(u2.c AS DOUBLE) / n_uni))), 6)
                  AS pmi
         FROM bc JOIN uc u1 ON bc.w1 = u1.w
                 JOIN uc u2 ON bc.w2 = u2.w, bt, ut
         WHERE c_ab >= 5
         ORDER BY pmi DESC, bigram ASC
         LIMIT 100""") { (s, d) =>
      TextAnalytics.pmiCollocations(Tables.documents(s, d), "text", 5L, 100)
    },

    /** §2b TextRank keyword extraction (Mihalcea & Tarau EMNLP'04) as a
      * pure COMPOSITION: the word co-occurrence graph (adjacent-token
      * pairs with support ≥ 5, undirected) fed to the SAME fixed-iteration
      * [[Graph.pageRank]] the link queries use — graph centrality as a
      * keyword scorer, no new operator code. Top 30 by 9dp-rounded rank. */
    Q("q_textrank", textRankOracleSql) { (s, d) =>
      // widen before the tokenize+shingle explode (r15, guide §2.5)
      val occ = graft.operators.FanOut.widen(Tables.documents(s, d))
        .select(explode(TextFunctions.shinglesOf(
          TextFunctions.tokens(col("text")), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
        .select(element_at(split(col("bigram"), " "), 1).as("w1"),
          element_at(split(col("bigram"), " "), 2).as("w2"))
        .filter(col("w1") =!= col("w2"))
      val und = occ.select(least(col("w1"), col("w2")).as("src"),
        greatest(col("w1"), col("w2")).as("dst")).distinct()
      val edges = und.unionByName(
        und.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, 3)
        .select(col("id").as("keyword"), round(col("rank"), 9).as("rank"))
        .orderBy(col("rank").desc, col("keyword").asc)
        .limit(30)
    },

    /** §2b rolling-hash document fingerprint (native codegen expression;
      * engine-portable recurrence, oracle uses DuckDB list_reduce). */
    Q("q_rolling_hash",
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    [CAST(unicode(c) AS BIGINT) FOR c IN string_split(text, '')]),
                  (h, cp) -> (h * 31 + cp) % 1000000007) AS rhash
         FROM documents""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.rollingHash(col("text")).as("rhash"))
    },

    /** §2b BPE-ish subword counting (RE2-compatible run-splitting). */
    Q("q_subword_count",
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[a-zA-Z]+'))
                   + len(regexp_extract_all(text, '[0-9]+'))
                   + len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+')) AS BIGINT)
                  AS n_subwords
         FROM documents""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.subwordCount(col("text")).cast("long").as("n_subwords"))
    },

    /** §2b green-list watermark detection ([[TextAnalytics.watermarkScore]],
      * Kirchenbauer ICML'23): per-doc z-test of md5-parity "green" bigram
      * excess at γ = ½ — the model-generated-text intake screen; natural
      * text hugs |z| ≤ 2, the paper's z ≥ 4 flag would fire on watermarked
      * output. Exact integer G/T; one wordcount-shaped aggregate. */
    Q("q_watermark_detect",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents),
              occ AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram
                      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              g AS (SELECT doc_id,
                      CASE WHEN CAST(('0x' || substring(md5(bigram), 1, 1))
                             AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS green
                    FROM occ),
              a AS (SELECT doc_id, count(*) AS n_scored,
                      CAST(sum(green) AS BIGINT) AS n_green
                    FROM g GROUP BY 1)
         SELECT doc_id, n_scored, n_green,
                round(n_green / n_scored, 6) AS green_frac,
                round((2 * n_green - n_scored) / sqrt(n_scored), 6) AS z,
                round((2 * n_green - n_scored) / sqrt(n_scored), 6) >= 4.0
                  AS flagged
         FROM a""") { (s, d) =>
      TextAnalytics.watermarkScore(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b lexical-diversity signals: unigram entropy + type-token ratio. */
    Q("q_token_entropy",
      s"""WITH cnt AS (
            SELECT doc_id, tok, count(*) AS c FROM (
              SELECT doc_id, UNNEST($duckTokens) AS tok FROM documents)
            GROUP BY doc_id, tok)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
                round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
                round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
         FROM cnt GROUP BY doc_id""") { (s, d) =>
      TextAnalytics.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b vocabulary coverage curve: top-100 tokens with cumulative share. */
    Q("q_vocab_coverage",
      s"""WITH f AS (SELECT tok AS token, count(*) AS tf FROM (
                       SELECT UNNEST($duckTokens) AS tok FROM documents)
                     GROUP BY tok)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
                token, tf,
                round(SUM(tf) OVER (ORDER BY tf DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      / CAST(SUM(tf) OVER () AS DOUBLE), 6) AS coverage
         FROM f QUALIFY rank <= 100""") { (s, d) =>
      TextAnalytics.vocabCoverage(Tables.documents(s, d), "text", 100)
    },

    /** §2b TF-IDF: top-5 terms per document (topTerms ranks on the rounded
      * score so cross-engine double ulps cannot flip ties). */
    Q("q_tfidf",
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
              tok AS (SELECT doc_id,
                        UNNEST(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END) AS term
                      FROM docs),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docs),
              scored AS (
           SELECT doc_id, term, tf, df,
                  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tf_idf
           FROM tf JOIN dfreq USING (term), n)
         SELECT doc_id, term, tf, df, tf_idf, rnk FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tf_idf DESC, term) AS rnk
           FROM scored) WHERE rnk <= 5""") { (s, d) =>
      TextAnalytics.topTerms(
        Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", "text", 5)
    },

    /** §2b quantile-threshold quality filter: drop the bottom quartile of
      * quality score within each language (rank-based — no interpolation). */
    Q("q_quality_filter",
      s"""WITH q AS (SELECT doc_id, $qualityBlendSql AS quality
            FROM (SELECT doc_id, $qualityInputsSql
                  FROM documents)),
           r AS (SELECT d.doc_id, d.lang, q.quality,
                   percent_rank() OVER (PARTITION BY d.lang
                     ORDER BY q.quality, d.doc_id) AS pr
                 FROM documents d JOIN q ON d.doc_id = q.doc_id)
         SELECT doc_id, lang, quality, round(pr, 6) AS q_rank
         FROM r WHERE pr >= 0.25""") { (s, d) =>
      // Rank on the 6dp-ROUNDED score (with the doc_id tiebreak inside
      // quantileFilter): ranking on raw doubles would let a cross-engine ulp
      // flip the order of two near-equal scores and shift every downstream
      // percent_rank in the group.
      val staged = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        round(TextFunctions.qualityScore(col("text")), 6).as("__quality"))
      Corpus.quantileFilter(staged, "lang", "__quality", "doc_id", 0.25)
        .select(col("doc_id"), col("lang"),
          col("__quality").as("quality"),
          round(col("val_pct_rank"), 6).as("q_rank"))
    },

    /** §2b boilerplate-prefix audit ([[TextAnalytics.boilerplatePrefixes]]):
      * per source, the top-3 leading-3-token prefixes and their doc share —
      * the template-header screen (RefinedWeb/C4 curation) whose per-group
      * top-N window is the GroupTopK-rewrite shape. */
    Q("q_boilerplate",
      """WITH tok AS (SELECT source,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents),
              pref AS (SELECT source, array_to_string(t[1:3], ' ') AS prefix
                       FROM tok WHERE len(t) >= 1),
              counts AS (SELECT source, prefix, count(*) AS n_docs
                         FROM pref GROUP BY 1, 2),
              totals AS (SELECT source, count(*) AS tot FROM pref GROUP BY 1),
              ranked AS (SELECT source, prefix, n_docs,
                           row_number() OVER (PARTITION BY source
                             ORDER BY n_docs DESC, prefix ASC) AS rank
                         FROM counts)
         SELECT r.source, CAST(r.rank AS BIGINT) AS rank, r.prefix, r.n_docs,
                round(r.n_docs / t.tot, 6) AS doc_share
         FROM ranked r JOIN totals t USING (source)
         WHERE r.rank <= 3""") { (s, d) =>
      TextAnalytics.boilerplatePrefixes(Tables.documents(s, d), "source",
        "text", k = 3, topN = 3)
    },

    /** §2b hashed-feature linear classifier (fastText-style scoring): the
      * learned quality-filter path — 64 hashed buckets, weights as a literal
      * array, pure map-side fold over the token array. */
    Q("q_quality_classifier",
      s"""WITH t AS (SELECT doc_id, $duckTokens AS toks FROM documents),
              e AS (SELECT doc_id, UNNEST(toks) AS token FROM t),
              s AS (SELECT doc_id,
                      $classifierTokenSumSql
                    FROM e GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                $classifierBiasSql + COALESCE(s.sw, 0.0) AS logit,
                ($classifierBiasSql + COALESCE(s.sw, 0.0)) > 0.0 AS keep
         FROM t LEFT JOIN s USING (doc_id)""") { (s, d) =>
      TextAnalytics.hashedLinearScore(Tables.documents(s, d), "doc_id", "text",
        classifierWeights, classifierBias)
    },

    /** §2b per-document sentence statistics: count and mean/max sentence
      * length in tokens — map-side array math, no explode. */
    Q("q_sentence_stats",
      s"""WITH t AS (SELECT doc_id, $duckSentences AS sents FROM documents),
              c AS (SELECT doc_id, sents,
                      list_transform(sents,
                        s -> len(${duckTokensOf("s")})) AS counts
                    FROM t)
         SELECT doc_id,
                CAST(len(sents) AS BIGINT) AS n_sentences,
                round(CASE WHEN len(sents) > 0
                  THEN CAST(list_aggregate(counts, 'sum') AS DOUBLE)
                         / len(sents) END, 6) AS avg_sent_tokens,
                CAST(list_aggregate(counts, 'max') AS BIGINT)
                  AS max_sent_tokens
         FROM c""") { (s, d) =>
      TextAnalytics.sentenceStats(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b PII masking: documents text augmented with a synthetic email /
      * phone / URL built from doc_id (both engines construct the identical
      * input), then the url→email→phone regexp_replace chain. */
    Q("q_pii_mask",
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      text || ' Contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1 (555) 010-'
                        || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                        || ' via https://ex.example/d/' || CAST(doc_id AS VARCHAR),
                      'https?://[^\s]+', '[URL]', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                  '\+?[0-9][0-9()\s.-]{6,}[0-9]', '[PHONE]', 'g') AS masked
         FROM documents""") { (s, d) =>
      val synth = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1 (555) 010-"),
        lpad(col("doc_id").cast("string"), 4, "0"),
        lit(" via https://ex.example/d/"), col("doc_id").cast("string"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.maskPii(synth).as("masked"))
    },

    /** §2b markup stripping: documents text wrapped in synthetic tags and
      * entities (including the `&amp;lt;` double-escape trap), then
      * stripMarkup. */
    Q("q_strip_markup",
      """SELECT doc_id,
                trim(regexp_replace(
                  replace(replace(replace(replace(replace(
                    regexp_replace(
                      '<div class="hero"><h1>' || text
                        || '</h1><p>&amp;lt; kept, &lt;raw&gt; &amp; &quot;quoted&quot; &#39;s</p><br/>',
                      '<[^>]*>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', ''''), '&amp;', '&'),
                  '\s+', ' ', 'g')) AS clean
         FROM documents""") { (s, d) =>
      val wrapped = concat(lit("<div class=\"hero\"><h1>"), col("text"),
        lit("</h1><p>&amp;lt; kept, &lt;raw&gt; &amp; &quot;quoted&quot; &#39;s</p><br/>"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.stripMarkup(wrapped).as("clean"))
    },

    /** §2b approximate quantile filter (the scale path of q_quality_filter),
      * hash-checkable: the GK sketch's boundary pick is not reproducible in
      * a SQL oracle, so the output is the per-language acceptance readout
      * the oracle CAN pin to TRUE — `kept_consistent` (the operator's
      * survivor count equals n − |quality < threshold|, i.e. the broadcast
      * join + filter kept exactly the suffix at its own threshold) and
      * `rank_ok` (the threshold's rank window [|< t|+1, |≤ t|] overlaps the
      * target rank 0.25·n within the GK guarantee ε·n = n/accuracy, +1 for
      * rank-convention slack — tie-robust where a plain kept-count bound is
      * not). The doc-level filtering semantics stay oracle-checked via the
      * exact twin q_quality_filter; CorpusSpec pins approx-vs-exact
      * survivor sets. */
    Q("q_quality_filter_approx",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                TRUE AS kept_consistent, TRUE AS rank_ok
         FROM documents GROUP BY lang""") { (s, d) =>
      val accuracy = 10000 // quantileFilterApprox's GK sketch accuracy
      val staged = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
      val kept = Corpus.quantileFilterApprox(staged, "lang", "quality", 0.25)
      // one evaluation of the sketch: the threshold is read back from the
      // operator's own output (constant per lang), never recomputed
      val keptAgg = kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("__n_kept"), min(col("q_threshold")).as("__t"))
      val target = col("n_docs").cast("double") * 0.25
      val slack = col("n_docs").cast("double") / accuracy + 1.0
      staged.join(broadcast(keptAgg), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality") < col("__t"), 1L).otherwise(0L)).as("__lt"),
          sum(when(col("quality") <= col("__t"), 1L).otherwise(0L)).as("__le"),
          min(col("__n_kept")).as("__kept"))
        .select(col("lang"), col("n_docs"),
          (col("__kept") === col("n_docs") - col("__lt")).as("kept_consistent"),
          ((col("__lt").cast("double") + 1.0 - slack <= target) &&
            (col("__le").cast("double") + slack >= target)).as("rank_ok"))
    },

    /** §2b benchmark decontamination: docs with doc_id < 50 stand in for the
      * eval set; corpus documents sharing any word 3-gram with it are
      * flagged with their distinct overlapping shingle count. (3-grams, not
      * the conventional 13, because the synthetic docs are ~50 tokens.) */
    Q("q_contamination",
      s"""WITH ctok AS (SELECT doc_id, $duckTokens AS t
                        FROM documents WHERE doc_id >= 50),
              btok AS (SELECT doc_id, $duckTokens AS t
                       FROM documents WHERE doc_id < 50),
              csh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
                      FROM ctok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              bsh AS (SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS shingle
                      FROM btok, UNNEST(generate_series(1, len(t) - 2)) AS u(i))
         SELECT c.doc_id, count(*) AS n_contaminated_shingles
         FROM csh c JOIN bsh b ON c.shingle = b.shingle
         GROUP BY c.doc_id""") { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalytics.contamination(
        docs.filter(col("doc_id") >= 50), "doc_id", "text",
        docs.filter(col("doc_id") < 50), "text", n = 3)
    },

    /** §2b repetition quality signals (Gopher-rule family): repeated-token
      * fraction + top-bigram share per document. */
    Q("q_repetition",
      s"""WITH tok AS (SELECT doc_id, $duckTokens AS t FROM documents),
              base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                         CASE WHEN len(t) > 0
                           THEN round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                           ELSE 0.0 END AS dup_token_frac
                       FROM tok),
              bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b
                     FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
              agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
                      FROM cnt GROUP BY 1)
         SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
                round(coalesce(CAST(a.top_c AS DOUBLE) / a.n_bg, 0.0), 6) AS top_bigram_frac
         FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id""") { (s, d) =>
      TextAnalytics.repetitionSignals(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b Gopher composite rule gate ([[TextAnalytics.gopherRules]]):
      * thresholds tuned so EVERY rule binds on this corpus — word count ≥
      * 50 (canonical), mean-word-length lower bound raised 3.0 → 4.4 (the
      * corpus spans 3.7–5.3, so the canonical 3.0 would be vacuous),
      * repetition ≤ 0.6, top-bigram ≤ 0.06 (canonical 0.2 sits above the
      * corpus max 0.17), ≥ 2 stopwords. Keeps ≈⅓ of docs with each rule
      * rejecting someone, so all five verdict columns are checked
      * non-vacuously. */
    Q("q_gopher_rules",
      s"""WITH tok AS (SELECT doc_id, text, $duckTokens AS t FROM documents),
              base AS (SELECT doc_id,
                         CAST(len(t) AS BIGINT) AS n_tokens,
                         CASE WHEN len(t) > 0
                           THEN round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                           ELSE 0.0 END AS dup_token_frac,
                         CASE WHEN len(t) > 0
                           THEN round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / len(t), 6)
                           ELSE 0.0 END AS mean_word_len,
                         CAST(len(list_filter(t,
                           x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
                           AS BIGINT) AS n_stopwords
                       FROM tok),
              bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b
                     FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
              agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
                      FROM cnt GROUP BY 1),
              sig AS (SELECT base.doc_id, base.n_tokens, base.mean_word_len,
                             base.dup_token_frac,
                             round(coalesce(CAST(agg.top_c AS DOUBLE) / agg.n_bg, 0.0), 6)
                               AS top_bigram_frac,
                             base.n_stopwords
                      FROM base LEFT JOIN agg ON base.doc_id = agg.doc_id)
         SELECT *,
                n_tokens BETWEEN 50 AND 100000 AS r_word_count,
                mean_word_len BETWEEN 4.4 AND 10.0 AS r_mean_word_len,
                dup_token_frac <= 0.6 AS r_repetition,
                top_bigram_frac <= 0.06 AS r_top_bigram,
                n_stopwords >= 2 AS r_stopwords,
                (n_tokens BETWEEN 50 AND 100000)
                  AND (mean_word_len BETWEEN 4.4 AND 10.0)
                  AND dup_token_frac <= 0.6
                  AND top_bigram_frac <= 0.06
                  AND n_stopwords >= 2 AS keep
         FROM sig""") { (s, d) =>
      TextAnalytics.gopherRules(Tables.documents(s, d), "doc_id", "text",
        minMeanWordLen = 4.4, maxTopBigramFrac = 0.06)
    },

    /** §2b corpus-level distinct-1/2/3 diversity per source — the
      * synthetic-data acceptance gate ([[TextAnalytics.distinctNgramRatio]];
      * low distinct-n marks template/self-repetitive slices). */
    Q("q_distinct_ngrams",
      s"""WITH tok AS (SELECT source, $duckTokens AS t FROM documents),
              b1 AS (SELECT source, 1 AS n, UNNEST(t) AS gram FROM tok),
              b2 AS (SELECT source, 2 AS n,
                            array_to_string(t[i:i+1], ' ') AS gram
                     FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              b3 AS (SELECT source, 3 AS n,
                            array_to_string(t[i:i+2], ' ') AS gram
                     FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              allg AS (SELECT * FROM b1 UNION ALL
                       SELECT * FROM b2 UNION ALL
                       SELECT * FROM b3),
              cnt AS (SELECT source, n, gram, count(*) AS c
                      FROM allg GROUP BY 1, 2, 3)
         SELECT source, n, CAST(count(*) AS BIGINT) AS distinct_ngrams,
                CAST(sum(c) AS BIGINT) AS total_ngrams,
                round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio
         FROM cnt GROUP BY 1, 2""") { (s, d) =>
      TextAnalytics.distinctNgramRatio(Tables.documents(s, d), "source",
        "text", Seq(1, 2, 3))
    },

    /** §2b word2vec-style negative-sampling table: unigram^0.75 shares +
      * cumulative rank-order mass over the top-100 tokens
      * ([[TextAnalytics.negativeSamplingTable]]). */
    Q("q_negative_sampling",
      s"""WITH tokc AS (SELECT UNNEST(t) AS token
                        FROM (SELECT $duckTokens AS t FROM documents)),
              c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
                    FROM tokc GROUP BY 1),
              r AS (SELECT token, cnt,
                           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC)
                             AS BIGINT) AS rank
                    FROM c),
              top AS (SELECT * FROM r WHERE rank <= 100),
              z AS (SELECT sum(pow(CAST(cnt AS DOUBLE), 0.75)) AS zz FROM top)
         SELECT rank, token, cnt,
                round(pow(CAST(cnt AS DOUBLE), 0.75) / zz, 6) AS p_neg,
                round(sum(pow(CAST(cnt AS DOUBLE), 0.75) / zz)
                        OVER (ORDER BY cnt DESC, token ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW), 6) AS cum_p
         FROM top, z""") { (s, d) =>
      TextAnalytics.negativeSamplingTable(Tables.documents(s, d), "text", 100)
    },

    /** §2b BM25 ranked retrieval: top-20 documents for a literal query-term
      * set — early term filter, broadcast stats, TakeOrdered top-k. */
    Q("q_bm25",
      s"""$bm25TermStatsSql
         ${bm25TopSql(20)}""") { (s, d) =>
      TextAnalytics.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("data", "spark", "merge"), 20)
    },

    /** §2b Dirichlet query-likelihood retrieval
      * ([[TextAnalytics.queryLikelihood]], Zhai & Lafferty SIGIR'01) on
      * the SAME 3-term query as q_bm25 — the LM scoring member of the
      * TF-IDF/BM25/QL trio; absent terms contribute smoothed mass, so the
      * ranking differs from BM25 exactly where smoothing matters. */
    Q("q_query_likelihood",
      s"""WITH tok AS (SELECT doc_id, $duckTokens AS t FROM documents),
              lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tok),
              occ AS (SELECT doc_id, UNNEST(t) AS term FROM tok),
              tot AS (SELECT CAST(count(*) AS DOUBLE) AS big_t FROM occ),
              cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM occ
                     WHERE term IN ('data', 'spark', 'merge') GROUP BY 1),
              tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                     FROM occ WHERE term IN ('data', 'spark', 'merge')
                     GROUP BY 1, 2),
              grid AS (SELECT l.doc_id, l.dl, c.term, c.cf FROM lens l, cf c),
              sc AS (SELECT g.doc_id,
                       ln((COALESCE(t.tf, 0) + 2048.0 * (g.cf / big_t))
                         / (g.dl + 2048.0)) AS lp
                     FROM grid g
                     LEFT JOIN tf t
                       ON g.doc_id = t.doc_id AND g.term = t.term, tot)
         SELECT doc_id, round(sum(lp), 6) AS score
         FROM sc GROUP BY 1
         ORDER BY score DESC, doc_id ASC LIMIT 20""") { (s, d) =>
      TextAnalytics.queryLikelihood(Tables.documents(s, d), "doc_id", "text",
        Seq("data", "spark", "merge"), 20)
    },

    /** §2b Yule's K lexical richness ([[TextAnalytics.yuleK]]) per source:
      * the closed-form frequency-spectrum constant — template/repetitive
      * slices score high; exact integers until the final division. */
    Q("q_yule_k",
      s"""WITH occ AS (SELECT source, UNNEST($duckTokens) AS tok
                       FROM documents),
              freqs AS (SELECT source, tok, count(*) AS m
                        FROM occ GROUP BY 1, 2),
              sp AS (SELECT source, CAST(count(*) AS BIGINT) AS v_types,
                       CAST(sum(m) AS BIGINT) AS n_tokens,
                       CAST(sum(m * m) AS BIGINT) AS s2
                     FROM freqs GROUP BY 1)
         SELECT source, v_types, n_tokens,
                round(10000.0 * (s2 - n_tokens)
                  / (n_tokens * n_tokens), 6) AS yule_k
         FROM sp""") { (s, d) =>
      TextAnalytics.yuleK(Tables.documents(s, d), "source", "text")
    },

    /** §2b n-gram novelty curve ([[TextAnalytics.noveltyCurve]]): per
      * doc_id-ordered ingestion batch (2000 docs), the share of distinct
      * 3-grams first seen in that batch — the crawl-freshness decay
      * readout; min-batch attribution needs no ordering pass. */
    Q("q_novelty_curve",
      s"""WITH pairs AS (SELECT DISTINCT
                           CAST(floor(doc_id / 2000) AS BIGINT) AS batch,
                           array_to_string(t[i:i+2], ' ') AS g
                         FROM (SELECT doc_id, $duckTokens AS t
                               FROM documents),
                           UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              first AS (SELECT g, min(batch) AS fb FROM pairs GROUP BY 1)
         SELECT p.batch, CAST(count(*) AS BIGINT) AS n_distinct,
                CAST(sum(CASE WHEN f.fb = p.batch THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                round(sum(CASE WHEN f.fb = p.batch THEN 1 ELSE 0 END)
                  / CAST(count(*) AS BIGINT), 6) AS novelty_rate
         FROM pairs p JOIN first f ON p.g = f.g
         GROUP BY 1""") { (s, d) =>
      TextAnalytics.noveltyCurve(
        Tables.documents(s, d)
          .withColumn("batch", floor(col("doc_id") / 2000).cast("long")),
        "batch", "text", n = 3)
    },

    /** §2b PRF query expansion: BM25 top-3 feedback docs for the same
      * query, top-10 expansion terms by feedback-tf × corpus IDF — the
      * second-pass retrieval vocabulary. */
    Q("q_prf_expansion",
      s"""WITH tok AS (SELECT doc_id, $duckTokens AS t FROM documents),
              lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tok),
              corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                                avg(dl) AS avgdl FROM lens),
              tfq AS (SELECT doc_id, term, count(*) AS tf
                      FROM (SELECT doc_id, UNNEST(t) AS term FROM tok)
                      WHERE term IN ('data', 'spark', 'merge')
                      GROUP BY doc_id, term),
              dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
              fb AS (SELECT doc_id FROM (
                 SELECT f.doc_id,
                        round(sum(ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
                          * f.tf * 2.2
                          / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / c.avgdl))), 6) AS score
                 FROM tfq f
                 JOIN dfq d ON f.term = d.term
                 JOIN lens l ON f.doc_id = l.doc_id
                 CROSS JOIN corpus c
                 GROUP BY f.doc_id)
               ORDER BY score DESC, doc_id ASC LIMIT 3),
              tfa AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                      FROM (SELECT doc_id, UNNEST(t) AS term FROM tok)
                      GROUP BY 1, 2),
              dfa AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM tfa GROUP BY 1),
              fbt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tf_feedback
                      FROM tfa JOIN fb USING (doc_id)
                      WHERE term NOT IN ('data', 'spark', 'merge')
                      GROUP BY 1)
         SELECT term, tf_feedback, df,
                round(CAST(tf_feedback AS DOUBLE) * ln(c.n_docs / df), 6)
                  AS expansion_weight
         FROM fbt JOIN dfa USING (term), corpus c
         ORDER BY expansion_weight DESC, term ASC LIMIT 10""") { (s, d) =>
      TextAnalytics.prfExpansion(Tables.documents(s, d), "doc_id", "text",
        Seq("data", "spark", "merge"), fbDocs = 3, nTerms = 10)
    },

    /** §2b exact heavy hitters (sketch → recount): document tokens with
      * frequency > n/41, found by a Misra–Gries pass whose shuffle is O(k)
      * per partition, then recounted exactly over the ≤ k candidates —
      * never a full distinct-token aggregation. k=40 on the ~31-word
      * synthetic vocabulary keeps the check non-vacuous: the rare 'dup'
      * token falls below the threshold while the rest clear it. */
    Q("q_heavy_hitters",
      s"""WITH tok AS (SELECT token FROM documents,
                         UNNEST($duckTokens) AS u(token)),
              tot AS (SELECT COUNT(*) AS total FROM tok),
              c AS (SELECT token AS item, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM tok GROUP BY 1)
         SELECT item, cnt FROM c, tot WHERE cnt * 41 > tot.total""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      Corpus.heavyHitters(toks, "token", k = 40)
    },

    /** §2b Zipf-law fit: per-language ln(freq) ~ ln(rank) OLS over the
      * token frequency table — the corpus health check (the synthetic
      * near-uniform vocabulary fits a shallow slope with low r²; real text
      * sits near −1 with high r² — exactly the drift this flags). */
    Q("q_zipf_slope",
      s"""WITH tok AS (SELECT lang, token FROM documents,
                         UNNEST($duckTokens) AS u(token)),
              f AS (SELECT lang, token, COUNT(*) AS cnt
                    FROM tok GROUP BY 1, 2),
              r AS (SELECT lang,
                           ln(row_number() OVER (PARTITION BY lang
                             ORDER BY cnt DESC, token ASC)) AS x,
                           ln(cnt) AS y
                    FROM f)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                round(CASE WHEN var_samp(x) > 0
                  THEN covar_samp(x, y) / var_samp(x) END, 6) AS slope,
                round(CASE WHEN var_samp(x) > 0
                  THEN avg(y) - (covar_samp(x, y) / var_samp(x)) * avg(x)
                  END, 6) AS intercept,
                round(CASE WHEN var_samp(x) > 0 AND var_samp(y) > 0
                  THEN covar_samp(x, y) * covar_samp(x, y)
                         / (var_samp(x) * var_samp(y)) END, 6) AS r2
         FROM r GROUP BY lang""") { (s, d) =>
      TextAnalytics.zipfFit(Tables.documents(s, d), "lang", "text")
    },

    /** §2b naive Bayes classifier audit: train multinomial NB on the
      * documents table's own language labels and self-classify — documents
      * whose label loses its own model's argmax are the mislabel/drift
      * candidates. All wordcount aggregates + a #classes fan-out. */
    Q("q_naive_bayes",
      s"""WITH occ AS (SELECT doc_id, lang, token FROM documents,
                         UNNEST($duckTokens) AS u(token)),
              ct AS (SELECT lang AS cand, token, COUNT(*) AS ct_cnt
                     FROM occ GROUP BY 1, 2),
              ctot AS (SELECT cand, SUM(ct_cnt) AS c_occ FROM ct GROUP BY 1),
              pri AS (SELECT lang AS cand, COUNT(*) AS c_docs
                      FROM documents GROUP BY 1),
              nd AS (SELECT COUNT(*) AS n_docs FROM documents),
              v AS (SELECT COUNT(DISTINCT token) AS v_size FROM occ),
              dtf AS (SELECT doc_id, token, COUNT(*) AS tf
                      FROM occ GROUP BY 1, 2),
              sc AS (SELECT dtf.doc_id, ctot.cand,
                            round(SUM(dtf.tf * ln(
                                (COALESCE(ct.ct_cnt, 0) + 1)
                                  / CAST(ctot.c_occ + v.v_size AS DOUBLE)))
                              + ln(CAST(pri.c_docs AS DOUBLE) / nd.n_docs),
                              6) AS score
                     FROM dtf
                     CROSS JOIN ctot
                     JOIN pri ON pri.cand = ctot.cand
                     CROSS JOIN nd CROSS JOIN v
                     LEFT JOIN ct ON ct.cand = ctot.cand
                                 AND ct.token = dtf.token
                     GROUP BY dtf.doc_id, ctot.cand, pri.c_docs, nd.n_docs)
         SELECT s.doc_id, d.lang, s.cand AS pred, s.score
         FROM sc s JOIN documents d USING (doc_id)
         QUALIFY row_number() OVER (PARTITION BY s.doc_id
           ORDER BY s.score DESC, s.cand ASC) = 1""") { (s, d) =>
      TextAnalytics.naiveBayesClassify(Tables.documents(s, d),
        "doc_id", "text", "lang")
    },

    /** §2b BPE merge-step statistic: top-50 adjacent character pairs
      * within words — map-side pair windows, one hash agg, TakeOrdered. */
    Q("q_char_pairs",
      s"""WITH w AS (SELECT w FROM documents,
                       UNNEST($duckTokens) AS u(w)
                     WHERE length(w) >= 2),
              p AS (SELECT pair FROM w,
                      UNNEST(list_transform(generate_series(1, length(w) - 1),
                        i -> substr(w, i, 2))) AS v(pair))
         SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM p GROUP BY 1
         ORDER BY cnt DESC, pair ASC LIMIT 50""") { (s, d) =>
      TextAnalytics.charPairCounts(Tables.documents(s, d), "text", topN = 50)
    },

    /** §2b BPE merge-rule training: the first 8 learned merges (rank, pair,
      * corpus count, merged symbol) over the whitespace-token vocabulary —
      * actual tokenizer training, not just the pair statistic. Oracle =
      * the same unrolled rounds as MATERIALIZED CTEs. */
    Q("q_bpe_merges", bpeOracleSql(8)) { (s, d) =>
      TextAnalytics.bpeTrain(Tables.documents(s, d), "text", rounds = 8)
    },

    /** §2b BPE encoding: apply the 8 merges learned at this SF to every
      * document — per-doc subword counts under the LEARNED tokenizer (the
      * number that prices a training run), pure map-side after training. */
    Q("q_bpe_encode", bpeEncodeOracleSql(8)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val rules = TextAnalytics.bpeTrainRules(docs, "text", rounds = 8)
      TextAnalytics.bpeEncode(docs, "doc_id", "text", rules)
    },

    /** §2b Heaps'-law vocabulary growth: cumulative (tokens, vocab) over 10
      * hash-nested corpus prefixes + the log-log OLS exponent — the vocab
      * budget planner. */
    Q("q_heaps_law",
      s"""WITH st AS (SELECT doc_id,
                CAST(floor(CAST(('0x' || substring(md5('heaps:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) / 4294967296.0 * 10) AS INT) + 1 AS b,
                $duckTokens AS toks
              FROM documents),
              tpb AS (SELECT b, CAST(sum(len(toks)) AS BIGINT) AS t
                      FROM st GROUP BY 1),
              fb AS (SELECT tok, min(b) AS fbk FROM (
                       SELECT b, UNNEST(toks) AS tok FROM st) GROUP BY 1),
              vpb AS (SELECT fbk AS b, CAST(count(*) AS BIGINT) AS v
                      FROM fb GROUP BY 1),
              grid AS (SELECT UNNEST(generate_series(1, 10)) AS b),
              cum AS (SELECT CAST(g.b AS INTEGER) AS checkpoint,
                        CAST(sum(COALESCE(t, 0)) OVER (ORDER BY g.b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS tokens_cum,
                        CAST(sum(COALESCE(v, 0)) OVER (ORDER BY g.b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS vocab_cum
                      FROM grid g LEFT JOIN tpb ON g.b = tpb.b
                                  LEFT JOIN vpb ON g.b = vpb.b),
              pts AS (SELECT checkpoint, tokens_cum, vocab_cum,
                        ln(CAST(tokens_cum AS DOUBLE)) AS x,
                        ln(CAST(vocab_cum AS DOUBLE)) AS y
                      FROM cum WHERE tokens_cum > 0 AND vocab_cum > 0),
              fit AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
                        covar_samp(x, y) AS cov, var_samp(x) AS vx,
                        var_samp(y) AS vy, avg(x) AS xb, avg(y) AS yb
                      FROM pts)
         SELECT checkpoint, tokens_cum, vocab_cum, n_points,
                round(CASE WHEN vx > 0 THEN cov / vx END, 6)
                  AS heaps_exponent,
                round(yb - (CASE WHEN vx > 0 THEN cov / vx END) * xb, 6)
                  AS heaps_lnk,
                round(CASE WHEN vx > 0 AND vy > 0
                      THEN (cov * cov) / (vx * vy) END, 6) AS r2
         FROM pts, fit""") { (s, d) =>
      TextAnalytics.heapsLaw(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b Flesch reading-ease readability: word/sentence/syllable counts
      * and the classic score per document — map-side syntactic-density
      * quality signal. */
    Q("q_readability",
      s"""SELECT doc_id,
                 CAST(len($duckTokens) AS BIGINT) AS n_words,
                 CAST(len($duckSentences) AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      AS BIGINT) AS n_syllables,
                 round(CASE WHEN len($duckTokens) > 0
                             AND len($duckSentences) > 0
                   THEN 206.835
                        - 1.015 * (CAST(len($duckTokens) AS DOUBLE)
                                   / len($duckSentences))
                        - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                                     '[aeiouy]+')) AS DOUBLE)
                                  / len($duckTokens)) END, 6) AS flesch
          FROM documents""") { (s, d) =>
      TextAnalytics.readabilitySignals(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b χ² feature selection: the 5 most language-discriminative tokens
      * per lang by document-level presence — the vocabulary a language-ID
      * profile actually wants (raw frequency ranks filler words first). */
    Q("q_chi2_tokens",
      s"""$tokenPresenceSql
              cells AS (SELECT pc.lang, pc.token, pc.a,
                          round(CASE WHEN
                              CAST(td.n_token AS DOUBLE)
                                * CAST(nd.n_docs - td.n_token AS DOUBLE)
                                * CAST(cd.n_class AS DOUBLE)
                                * CAST(nd.n_docs - cd.n_class AS DOUBLE) > 0
                            THEN CAST(nd.n_docs AS DOUBLE)
                              * (CAST(pc.a AS DOUBLE)
                                  * CAST(nd.n_docs - cd.n_class
                                      - (td.n_token - pc.a) AS DOUBLE)
                                - CAST(td.n_token - pc.a AS DOUBLE)
                                  * CAST(cd.n_class - pc.a AS DOUBLE))
                              * (CAST(pc.a AS DOUBLE)
                                  * CAST(nd.n_docs - cd.n_class
                                      - (td.n_token - pc.a) AS DOUBLE)
                                - CAST(td.n_token - pc.a AS DOUBLE)
                                  * CAST(cd.n_class - pc.a AS DOUBLE))
                              / (CAST(td.n_token AS DOUBLE)
                                  * CAST(nd.n_docs - td.n_token AS DOUBLE)
                                  * CAST(cd.n_class AS DOUBLE)
                                  * CAST(nd.n_docs - cd.n_class AS DOUBLE))
                            ELSE 0.0 END, 6) AS chi2
                        FROM pc JOIN cd USING (lang)
                                JOIN td USING (token)
                                CROSS JOIN nd)
         SELECT lang, token, a, chi2,
                CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY chi2 DESC, token ASC) AS BIGINT) AS rnk
         FROM cells
         QUALIFY rnk <= 5""") { (s, d) =>
      TextAnalytics.chiSquaredTokens(Tables.documents(s, d),
        "doc_id", "text", "lang", topK = 5)
    },

    /** FLAGSHIP §2b composition — the per-source corpus report card: doc
      * and token volume, language breadth, exact-dup rate (via the dedup
      * fingerprint) and mean classifier quality, in ONE aggregate over the
      * corpus plus one over the scored frame. The dataset-card /
      * ingest-dashboard query a curation team watches per source; dyadic
      * classifier logits keep mean quality exact cross-engine. */
    Q("q_corpus_report",
      s"""WITH t AS (SELECT doc_id, source, lang, text,
                       $duckTokens AS toks FROM documents),
              base AS (SELECT source,
                         CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
                         COUNT(DISTINCT md5(regexp_replace(lower(text),
                           '[^0-9a-z]', '', 'g'))) AS uniq,
                         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
                       FROM t GROUP BY source),
              e AS (SELECT doc_id, UNNEST(toks) AS token FROM t),
              sc AS (SELECT doc_id,
                       $classifierTokenSumSql
                     FROM e GROUP BY doc_id),
              q AS (SELECT t.source,
                      round(avg($classifierBiasSql + COALESCE(sc.sw, 0.0)), 6)
                        AS mean_quality
                    FROM t LEFT JOIN sc ON sc.doc_id = t.doc_id
                    GROUP BY t.source)
         SELECT base.source, base.n_docs, base.n_tokens, base.n_langs,
                round((base.n_docs - base.uniq) / CAST(base.n_docs AS DOUBLE),
                  6) AS dup_rate,
                q.mean_quality
         FROM base JOIN q USING (source)""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"),
        countDistinct(TextFunctions.fingerprint(col("text"))).as("__uniq"),
        countDistinct(col("lang")).as("n_langs"))
      val quality = TextAnalytics.hashedLinearScore(docs, "doc_id", "text",
          classifierWeights, classifierBias)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(round(avg(col("logit")), 6).as("mean_quality"))
      base.join(quality, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          round((col("n_docs") - col("__uniq")) / col("n_docs"), 6)
            .as("dup_rate"),
          col("mean_quality"))
    },

    /** §2b interpolated (Jelinek–Mercer) bigram LM: λ=0.75 mix of the
      * conditional bigram MLE and the unigram distribution — the smoothing
      * step above q_bigram_loglik's add-one on the LM-quality ladder. */
    Q("q_interp_loglik",
      """WITH tok AS (SELECT doc_id,
                        CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE string_split_regex(trim(text), '\s+') END AS t
                      FROM documents),
              occ AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2,
                        array_to_string(t[i:i+1], ' ') AS bigram
                      FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              bc AS (SELECT bigram, count(*) AS c_ab FROM occ GROUP BY 1),
              uc AS (SELECT w, count(*) AS c_w
                     FROM (SELECT UNNEST(t) AS w FROM tok) GROUP BY 1),
              tt AS (SELECT SUM(c_w) AS t_occ FROM uc)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(0.75 * (c_ab / ua.c_w)
                  + 0.25 * (ub.c_w / t_occ))), 6) AS mean_loglik
         FROM occ JOIN bc USING (bigram)
                  JOIN uc ua ON occ.w1 = ua.w
                  JOIN uc ub ON occ.w2 = ub.w, tt
         GROUP BY doc_id""") { (s, d) =>
      TextAnalytics.interpolatedLogLik(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b PII density metrics: per-doc URL/email/phone counts + per-kchar
      * rate over a varied synthetic injection (email every 3rd doc, phone
      * every 5th, URL every 7th — counts actually vary) — the
      * which-sources-need-scrubbing readout next to q_pii_mask's scrub. */
    Q("q_pii_density",
      """WITH s AS (SELECT doc_id,
                      text
                        || CASE WHEN doc_id % 3 = 0
                             THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                             ELSE '' END
                        || CASE WHEN doc_id % 5 = 0
                             THEN ' call +1 (555) 010-0000' ELSE '' END
                        || CASE WHEN doc_id % 7 = 0
                             THEN ' https://ex.example/d/' || CAST(doc_id AS VARCHAR)
                             ELSE '' END AS synth
                    FROM documents),
              m AS (SELECT doc_id, synth,
                      regexp_replace(synth, 'https?://[^\s]+', '[URL]', 'g')
                        AS no_url
                    FROM s),
              m2 AS (SELECT doc_id, synth, no_url,
                       regexp_replace(no_url,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '[EMAIL]', 'g') AS no_email
                     FROM m),
              c AS (SELECT doc_id, synth,
                      CAST(len(regexp_extract_all(synth,
                        'https?://[^\s]+')) AS BIGINT) AS n_urls,
                      CAST(len(regexp_extract_all(no_url,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                        AS BIGINT) AS n_emails,
                      CAST(len(regexp_extract_all(no_email,
                        '\+?[0-9][0-9()\s.-]{6,}[0-9]')) AS BIGINT) AS n_phones
                    FROM m2)
         SELECT doc_id, n_urls, n_emails, n_phones,
                round(CASE WHEN length(synth) > 0
                  THEN (n_urls + n_emails + n_phones) * 1000.0 / length(synth)
                  ELSE 0.0 END, 6) AS pii_per_kchar
         FROM c""") { (s, d) =>
      val synth = concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call +1 (555) 010-0000"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" https://ex.example/d/"),
          col("doc_id").cast("string"))).otherwise(lit("")))
      val counts = TextFunctions.piiCounts(synth)
      val total = counts.map(_._2).reduceLeft(_ + _)
      Tables.documents(s, d).select(
        col("doc_id") +: counts.map { case (n, c) => c.as(n) } :+
          round(when(length(synth) > 0, total * 1000.0 / length(synth))
            .otherwise(0.0), 6).as("pii_per_kchar"): _*)
    },

    /** §2b mutual-information feature selection: the information-theoretic
      * sibling of q_chi2_tokens over the same presence contingency — the 5
      * highest-MI tokens per language. */
    Q("q_mi_tokens",
      s"""$tokenPresenceSql
              cells AS (SELECT pc.lang, pc.token, pc.a,
                               td.n_token, cd.n_class, nd.n_docs,
                               td.n_token - pc.a AS b,
                               cd.n_class - pc.a AS c,
                               nd.n_docs - cd.n_class - (td.n_token - pc.a)
                                 AS d
                        FROM pc JOIN cd USING (lang)
                                JOIN td USING (token)
                                CROSS JOIN nd),
              scored AS (SELECT lang, token, a,
                round(
                  (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * ln(CAST(a AS DOUBLE) * CAST(n_docs AS DOUBLE)
                          / (CAST(n_token AS DOUBLE) * CAST(n_class AS DOUBLE)))
                   ELSE 0.0 END)
                + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * ln(CAST(b AS DOUBLE) * CAST(n_docs AS DOUBLE)
                          / (CAST(n_token AS DOUBLE)
                             * CAST(n_docs - n_class AS DOUBLE)))
                   ELSE 0.0 END)
                + (CASE WHEN c > 0 THEN CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * ln(CAST(c AS DOUBLE) * CAST(n_docs AS DOUBLE)
                          / (CAST(n_docs - n_token AS DOUBLE)
                             * CAST(n_class AS DOUBLE)))
                   ELSE 0.0 END)
                + (CASE WHEN d > 0 THEN CAST(d AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     * ln(CAST(d AS DOUBLE) * CAST(n_docs AS DOUBLE)
                          / (CAST(n_docs - n_token AS DOUBLE)
                             * CAST(n_docs - n_class AS DOUBLE)))
                   ELSE 0.0 END), 6) AS mi
                FROM cells)
         SELECT lang, token, a, mi,
                CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY mi DESC, token ASC) AS BIGINT) AS rnk
         FROM scored
         QUALIFY rnk <= 5""") { (s, d) =>
      TextAnalytics.mutualInfoTokens(Tables.documents(s, d),
        "doc_id", "text", "lang", topK = 5)
    },

    /** §2b permutation-invariant fingerprint: md5 of each document's
      * sorted token bag — the second exact-dedup key, catching reordered
      * duplicates the character-normalized fingerprint misses. Value-
      * checked per doc (the synthetic docs contain no true permutation
      * pairs, so the md5 values themselves are the check). */
    Q("q_bag_fingerprint",
      s"""SELECT doc_id,
                 md5(array_to_string(list_sort($duckTokens), ' ')) AS bag_fp
          FROM documents""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.bagFingerprint(col("text")).as("bag_fp"))
    },

    /** §2b source-level similarity matrix: distinct BIGRAM vocabularies
      * per source, pairwise Jaccard via the same inverted-index join the
      * document dedup uses — which sources draw from the same well. */
    Q("q_source_similarity",
      s"""WITH tk AS (SELECT source, $duckTokens AS t FROM documents),
              tok AS (SELECT DISTINCT source AS id,
                             array_to_string(t[i : i + 1], ' ') AS token
                      FROM tk,
                           UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
              sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY id),
              inter AS (SELECT a.id AS id_a, b.id AS id_b,
                               count(*) AS n_common
                        FROM tok a JOIN tok b
                          ON a.token = b.token AND a.id < b.id
                        GROUP BY 1, 2)
         SELECT i.id_a, i.id_b,
                round(i.n_common / (sa.n + sb.n - i.n_common), 6) AS jaccard
         FROM inter i
         JOIN sizes sa ON i.id_a = sa.id
         JOIN sizes sb ON i.id_b = sb.id
         WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.5""") { (s, d) =>
      val sets = Tables.documents(s, d)
        .select(col("source"),
          explode(TextFunctions.shinglesOf(
            TextFunctions.tokens(col("text")), 2)).as("token"))
        .distinct()
      Dedup.jaccardPairsFrom(sets, "source", threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    },

    /** §2b language-ID confusion matrix: declared label vs the n-gram
      * profile guess — the eval readout over q_lang_ngram's classifier;
      * one extra hash aggregate. */
    Q("q_langid_confusion",
      s"""SELECT declared_lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
          FROM ($langNgramOracleSql) GROUP BY 1, 2""") { (s, d) =>
      langNgram.build(s, d).groupBy(col("declared_lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
    },

    /** §2b Gini vocabulary concentration per lang — the bounded diversity
      * dial next to Zipf slope and token entropy; rank window over the
      * vocabulary only, integer arithmetic to the final division. */
    Q("q_gini",
      s"""WITH f AS (SELECT lang, token, count(*) AS cnt
                     FROM (SELECT lang, UNNEST($duckTokens) AS token
                           FROM documents)
                     GROUP BY 1, 2),
              r AS (SELECT lang, cnt,
                           row_number() OVER (PARTITION BY lang
                                              ORDER BY cnt ASC, token ASC)
                             AS r
                    FROM f)
         SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
                CAST(sum(cnt) AS BIGINT) AS n_tokens,
                round(2.0 * sum(CAST(r AS DOUBLE) * cnt)
                  / (CAST(count(*) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE))
                  - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE),
                  6) AS gini
         FROM r GROUP BY lang""") { (s, d) =>
      TextAnalytics.giniConcentration(Tables.documents(s, d), "lang", "text")
    },

    /** §2b hybrid-retrieval fusion: RRF merge of the BM25 lexical top-50
      * and the embedding cosine top-50 over the shared id space — rank-only
      * fusion over two bounded candidate lists. */
    Q("q_rrf",
      s"""$bm25TermStatsSql,
              bm AS (${bm25TopSql(50)}),
              bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC,
                        doc_id ASC) AS ra
                      FROM bm),
              cq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id = 0),
              cos AS (SELECT vec_id,
                        round(list_dot_product(CAST(embedding AS DOUBLE[]),
                            qv)
                          / (sqrt(list_dot_product(
                               CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])))
                           * sqrt(list_dot_product(qv, qv))), 6)
                          AS cosine_sim
                      FROM embeddings, cq
                      ORDER BY cosine_sim DESC, vec_id LIMIT 50),
              cosr AS (SELECT vec_id AS doc_id,
                         row_number() OVER (ORDER BY cosine_sim DESC,
                           vec_id ASC) AS rb
                       FROM cos)
         SELECT coalesce(bmr.doc_id, cosr.doc_id) AS doc_id,
                round(coalesce(1.0 / (ra + 60), 0.0)
                  + coalesce(1.0 / (rb + 60), 0.0), 6) AS rrf_score,
                ra AS rank_a, rb AS rank_b
         FROM bmr FULL JOIN cosr ON bmr.doc_id = cosr.doc_id
         ORDER BY rrf_score DESC, doc_id ASC LIMIT 20""") { (s, d) =>
      val bm = TextAnalytics.bm25(Tables.documents(s, d), "doc_id", "text",
          Seq("data", "spark", "merge"), 50)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long").as("rank"))
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cos = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorFunctions.cosineSimilarity(col("embedding"), col("qv")),
            6).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id").asc)
        .limit(50)
        .select(col("vec_id").as("doc_id"), row_number().over(
          Window.orderBy(col("cosine_sim").desc, col("vec_id").asc))
          .cast("long").as("rank"))
      Similarity.rrfFuse(bm, cos, "doc_id")
    },

    /** §2b DSIR targeted selection: resample 50 docs whose hashed-token
      * distribution is closest to the src0 domain (64 hashed buckets,
      * Laplace-smoothed log-ratio scoring, deterministic Gumbel-top-k). */
    Q("q_dsir_select",
      s"""WITH rocc AS (SELECT doc_id,
                          CAST(('0x' || substring(md5('0:' || token), 1, 15))
                               AS BIGINT) % 64 AS b
                        FROM (SELECT doc_id, UNNEST($duckTokens) AS token
                              FROM documents)),
              tocc AS (SELECT doc_id,
                         CAST(('0x' || substring(md5('0:' || token), 1, 15))
                              AS BIGINT) % 64 AS b
                       FROM (SELECT doc_id, UNNEST($duckTokens) AS token
                             FROM documents WHERE source = 'src0')),
              rcnt AS (SELECT b, count(*) AS c_r FROM rocc GROUP BY 1),
              tcnt AS (SELECT b, count(*) AS c_t FROM tocc GROUP BY 1),
              tot AS (SELECT (SELECT count(*) FROM rocc) AS t_r,
                             (SELECT count(*) FROM tocc) AS t_t),
              stats AS (SELECT rcnt.b,
                          ln(CAST(coalesce(c_t, 0) + 1 AS DOUBLE) / (t_t + 64))
                        - ln(CAST(c_r + 1 AS DOUBLE) / (t_r + 64)) AS lr
                        FROM rcnt LEFT JOIN tcnt USING (b), tot),
              sc AS (SELECT doc_id, avg(lr) AS s FROM rocc
                     JOIN stats USING (b) GROUP BY 1),
              keyed AS (SELECT doc_id, s,
                          round(s - ln(-ln(greatest(
                            CAST(('0x' || substring(md5('dsir:' ||
                              CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                              / 4294967296.0,
                            1.0 / 4294967296.0))), 6) AS sel_key
                        FROM sc)
         SELECT doc_id, round(s, 6) AS score, sel_key
         FROM keyed ORDER BY sel_key DESC, doc_id ASC LIMIT 50""") { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalytics.dsirSelect(docs, docs.filter(col("source") === "src0"),
        "doc_id", "text", buckets = 64, nSelect = 50)
    },

    /** §2b cross-corpus fuzzy decontamination: corpus docs near-duplicating a
      * benchmark set. The benchmark is synthesized deterministically — every
      * 50th doc with each 7th token dropped (a paraphrase-ish edit that
      * defeats exact n-gram contamination) and ids offset by 1e6 — so true
      * near-dup pairs exist by construction at every SF. MinHash(16)-LSH(4×4)
      * candidates, exact-Jaccard re-rank ≥ 0.5. */
    Q("q_fuzzy_contamination",
      s"""WITH ctok AS (SELECT DISTINCT doc_id, UNNEST($duckTokens) AS token
                        FROM documents),
              bt AS (SELECT doc_id + 1000000 AS bench_id, $duckTokens AS toks
                     FROM documents WHERE doc_id % 50 = 3),
              btok AS (SELECT DISTINCT bench_id, toks[i] AS token
                       FROM bt, UNNEST(generate_series(1, len(toks))) AS t(i)
                       WHERE i % 7 <> 0),
              csig AS (SELECT doc_id, seed,
                         min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                             AS BIGINT)) AS min_hash
                       FROM ctok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                       GROUP BY doc_id, seed),
              bsig AS (SELECT bench_id, seed,
                         min(CAST(('0x' || substring(md5(seed || ':' || token), 1, 15))
                             AS BIGINT)) AS min_hash
                       FROM btok, (SELECT UNNEST(generate_series(0, 15)) AS seed)
                       GROUP BY bench_id, seed),
              cband AS (SELECT doc_id, seed // 4 AS band,
                          md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY seed))
                            AS band_hash
                        FROM csig GROUP BY doc_id, band),
              bband AS (SELECT bench_id, seed // 4 AS band,
                          md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY seed))
                            AS band_hash
                        FROM bsig GROUP BY bench_id, band),
              cand AS (SELECT DISTINCT c.doc_id, b.bench_id
                       FROM cband c JOIN bband b USING (band, band_hash)),
              na AS (SELECT doc_id, count(*) AS n_a FROM ctok GROUP BY 1),
              nb AS (SELECT bench_id, count(*) AS n_b FROM btok GROUP BY 1),
              inter AS (SELECT cand.doc_id, cand.bench_id, count(*) AS ni
                        FROM cand
                        JOIN ctok ON ctok.doc_id = cand.doc_id
                        JOIN btok ON btok.bench_id = cand.bench_id
                                 AND btok.token = ctok.token
                        GROUP BY 1, 2)
         SELECT i.doc_id, i.bench_id,
                round(CAST(ni AS DOUBLE) / (n_a + n_b - ni), 6) AS jaccard
         FROM inter i JOIN na USING (doc_id) JOIN nb USING (bench_id)
         WHERE round(CAST(ni AS DOUBLE) / (n_a + n_b - ni), 6) >= 0.5""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val kept = filter(TextFunctions.tokens(col("text")),
        (t: Column, i: Column) => (i + 1) % 7 =!= 0)
      val bench = docs.filter(col("doc_id") % 50 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", kept).as("text"))
      Dedup.crossLshContamination(docs, bench, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, threshold = 0.5)
    },

    /** §2b Unicode canonicalization (native codegen expressions): the corpus
      * is ASCII, so decomposed accents are synthesized deterministically
      * (e→e+U+0301, o→o+U+0308) on BOTH engines, then NFC-composed and
      * accent-folded. n_raw > n_nfc for any doc containing e/o proves the
      * normalization actually fired (non-vacuous); folded text must round-trip
      * back to the original ASCII. */
    Q("q_unicode_norm",
      """WITH syn AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(text,
                    'e', 'e' || chr(769), 'g'),
                    'o', 'o' || chr(776), 'g') AS dec
           FROM documents)
         SELECT doc_id,
                length(dec) AS n_raw,
                length(nfc_normalize(dec)) AS n_nfc,
                md5(nfc_normalize(dec)) AS nfc_md5,
                md5(strip_accents(dec)) AS folded_md5
         FROM syn""") { (s, d) =>
      val dec = regexp_replace(regexp_replace(col("text"),
        lit("e"), lit("e\u0301")), lit("o"), lit("o\u0308"))
      Tables.documents(s, d).select(
        col("doc_id"),
        length(dec).as("n_raw"),
        length(TextFunctions.normalizeUnicode(dec)).as("n_nfc"),
        md5(TextFunctions.normalizeUnicode(dec)).as("nfc_md5"),
        md5(TextFunctions.foldAccents(dec)).as("folded_md5"))
    },

    /** §2b tokenizer fertility per language: subwords-per-word and
      * chars-per-subword under the LEARNED 8-round BPE tokenizer — which
      * languages pay more tokens for the same text (the context-window /
      * training-budget equity readout). */
    Q("q_tokenizer_fertility", fertilityOracleSql(8)) { (s, d) =>
      val docs = Tables.documents(s, d)
      val rules = TextAnalytics.bpeTrainRules(docs, "text", rounds = 8)
      val enc = TextAnalytics.bpeEncode(docs, "doc_id", "text", rules)
      TextAnalytics.tokenizerFertility(
        enc.join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("doc_id")),
        "lang")
    },

    /** §2b word-frequency spectrum per source: V_m types occurring
      * exactly m ≤ 8 times + the hapax share — WHERE the vocabulary mass
      * sits, the table Yule's K collapses to one number. */
    Q("q_freq_spectrum",
      s"""WITH occ AS (SELECT source, UNNEST($duckTokens) AS tok
                     FROM documents),
              wc AS (SELECT source, tok, COUNT(*) AS m
                     FROM occ GROUP BY 1, 2),
              vt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
                     FROM wc GROUP BY 1),
              sp AS (SELECT source, m, CAST(COUNT(*) AS BIGINT) AS v_m
                     FROM wc WHERE m <= 8 GROUP BY 1, 2)
         SELECT sp.source, sp.m, sp.v_m, vt.v AS v_types,
                round(CAST(sp.v_m AS DOUBLE) / CAST(vt.v AS DOUBLE), 6)
                  AS share_of_types
         FROM sp JOIN vt ON sp.source = vt.source""") { (s, d) =>
      TextAnalytics.frequencySpectrum(Tables.documents(s, d), "source",
        "text", maxM = 8)
    },

    /** §2b Good–Turing re-estimation per source: discounted counts r*,
      * the low-frequency discount ratio and the unseen-mass p₀ — how much
      * of each source's vocabulary the crawl hasn't seen yet. */
    Q("q_good_turing",
      s"""WITH occ AS (SELECT source, UNNEST($duckTokens) AS tok
                     FROM documents),
              wc AS (SELECT source, tok, COUNT(*) AS m
                     FROM occ GROUP BY 1, 2),
              sp AS (SELECT source, m AS r, CAST(COUNT(*) AS BIGINT) AS v_r
                     FROM wc GROUP BY 1, 2),
              tot AS (SELECT source, CAST(SUM(m) AS BIGINT) AS n,
                             CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END)
                               AS BIGINT) AS v1
                      FROM wc GROUP BY 1)
         SELECT sp.source, sp.r, sp.v_r,
                round(CASE WHEN nx.v_r IS NOT NULL
                  THEN CAST(sp.r + 1 AS DOUBLE) * CAST(nx.v_r AS DOUBLE)
                     / CAST(sp.v_r AS DOUBLE) END, 6) AS r_star,
                round(CASE WHEN nx.v_r IS NOT NULL
                  THEN CAST(sp.r + 1 AS DOUBLE) * CAST(nx.v_r AS DOUBLE)
                     / CAST(sp.v_r AS DOUBLE) / CAST(sp.r AS DOUBLE)
                  END, 6) AS discount,
                round(CAST(tot.v1 AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
                  AS p0_unseen
         FROM sp
         LEFT JOIN sp nx ON sp.source = nx.source AND nx.r = sp.r + 1
         JOIN tot ON sp.source = tot.source
         WHERE sp.r <= 5""") { (s, d) =>
      TextAnalytics.goodTuring(Tables.documents(s, d), "source", "text",
        maxR = 5)
    },

    /** §2b Chao1 unseen-vocabulary estimator per source over token
      * TRIGRAMS (the unigram space saturates at sf0.1 — f1=f2=0 — which
      * Chao1 truthfully reports as "fully crawled" but makes a vacuous
      * fixture; the trigram space keeps live singleton/doubleton mass at
      * every SF). Pairs with q_good_turing: GT = unseen MASS, Chao1 =
      * unseen TYPES. */
    Q("q_chao1",
      s"""WITH tri AS (SELECT source, array_to_string(t[i:i+2], ' ') AS g
                       FROM (SELECT source, $duckTokens AS t
                             FROM documents),
                         UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
              cnt AS (SELECT source, g, count(*) AS c FROM tri GROUP BY 1, 2),
              r AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS distinct_tokens,
                      CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS f1,
                      CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                        AS f2
                    FROM cnt GROUP BY 1)
         SELECT source, distinct_tokens, f1, f2,
                CAST(distinct_tokens AS DOUBLE)
                  + CAST(f1 * (f1 - 1) AS DOUBLE)
                    / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1
         FROM r""") { (s, d) =>
      TextAnalytics.chao1Richness(Tables.documents(s, d), "source", "text")
    },

    /** §2b RAKE keyword extraction: stopword-delimited phrase runs,
      * degree/frequency word scores, top-20 phrases corpus-wide. The
      * synthetic corpus's function words ('a', 'the') are the delimiter
      * set. */
    Q("q_rake",
      s"""WITH tok AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
                       FROM (SELECT doc_id, $duckTokens AS t FROM documents),
                         UNNEST(generate_series(1, len(t))) AS u(i)),
              nz AS (SELECT doc_id, pos, tok,
                       pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY pos) AS island
                     FROM tok WHERE tok NOT IN ('a', 'the')),
              ph AS (SELECT doc_id, island,
                       string_agg(tok, ' ' ORDER BY pos) AS phrase,
                       count(*) AS len
                     FROM nz GROUP BY 1, 2),
              dp AS (SELECT phrase, count(*) AS n_occurrences,
                       min(len) AS len
                     FROM ph GROUP BY 1),
              w AS (SELECT phrase, n_occurrences, len,
                      UNNEST(string_split(phrase, ' ')) AS wd
                    FROM dp),
              ws AS (SELECT wd,
                       CAST(sum(n_occurrences * len) AS DOUBLE)
                         / CAST(sum(n_occurrences) AS DOUBLE) AS s
                     FROM w GROUP BY 1),
              ps AS (SELECT w.phrase, round(sum(ws.s), 6) AS score
                     FROM w JOIN ws ON w.wd = ws.wd GROUP BY 1)
         SELECT dp.phrase, CAST(dp.n_occurrences AS BIGINT) AS n_occurrences,
                ps.score
         FROM dp JOIN ps ON dp.phrase = ps.phrase
         ORDER BY ps.score DESC, dp.phrase ASC LIMIT 20""") { (s, d) =>
      TextAnalytics.rakeKeywords(Tables.documents(s, d), "doc_id", "text",
        stopwords = Seq("a", "the"), k = 20)
    },

    /** §2b Burrows' Delta stylometric source-pair matrix over the top-30
      * corpus words — variance-normalized function-word style distance
      * beside q_jsd_matrix's distributional overlap. */
    Q("q_burrows_delta",
      s"""WITH tok AS (SELECT source AS g, UNNEST($duckTokens) AS w
                       FROM documents),
              gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
                     FROM tok GROUP BY 1, 2),
              top AS (SELECT w FROM (SELECT w, sum(c) AS tot
                                     FROM gw GROUP BY 1)
                      ORDER BY tot DESC, w ASC LIMIT 30),
              gt AS (SELECT g, sum(c) AS n FROM gw GROUP BY 1),
              grid AS (SELECT gt.g, top.w,
                         CAST(coalesce(gw.c, 0) AS DOUBLE)
                           / CAST(gt.n AS DOUBLE) AS f
                       FROM gt CROSS JOIN top
                       LEFT JOIN gw ON gw.g = gt.g AND gw.w = top.w),
              kk AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS k
                     FROM grid),
              st AS (SELECT w, sum(f) / k AS mu, sum(f * f) / k AS m2
                     FROM grid, kk GROUP BY w, k),
              sd AS (SELECT w, mu,
                       sqrt(greatest(m2 - mu * mu, 0.0)) AS sd
                     FROM st),
              z AS (SELECT grid.w, grid.g, (grid.f - sd.mu) / sd.sd AS z
                    FROM grid JOIN sd ON grid.w = sd.w WHERE sd.sd > 0.0)
         SELECT a.g AS source_a, b.g AS source_b,
                CAST(count(*) AS BIGINT) AS n_words,
                round(avg(abs(a.z - b.z)), 6) AS delta
         FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
         GROUP BY 1, 2""") { (s, d) =>
      TextAnalytics.burrowsDelta(Tables.documents(s, d), "source", "text",
        topM = 30)
    },

    /** §2b Hill-number diversity profile (q=0,1,2 effective vocabulary +
      * Pielou evenness) per source — the three-point diversity readout
      * beside q_token_entropy's per-doc signal and q_zipf's slope. */
    Q("q_hill_diversity",
      s"""WITH cnt AS (
            SELECT source, tok, count(*) AS c FROM (
              SELECT source, UNNEST($duckTokens) AS tok FROM documents)
            GROUP BY source, tok),
              agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                        CAST(count(*) AS BIGINT) AS hill_0,
                        sum(c * ln(c)) AS scl,
                        CAST(sum(c * c) AS BIGINT) AS sc2
                      FROM cnt GROUP BY 1),
              h AS (SELECT source, n_tokens, hill_0,
                      ln(n_tokens) - scl / CAST(n_tokens AS DOUBLE) AS hh,
                      sc2
                    FROM agg)
         SELECT source, n_tokens, hill_0, round(exp(hh), 6) AS hill_1,
                CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)
                  / CAST(sc2 AS DOUBLE) AS hill_2,
                CASE WHEN hill_0 > 1 THEN round(hh / ln(hill_0), 6) END
                  AS pielou
         FROM h""") { (s, d) =>
      TextAnalytics.hillDiversity(Tables.documents(s, d), "source", "text")
    },

    /** §2b ROUGE-1 between consecutive documents
      * ([[TextAnalytics.rouge1Pairs]]): clipped unigram overlap P/R/F1 —
      * the summarization metric as a sequential-redundancy screen. */
    Q("q_rouge_pair",
      // Clipped unigram overlap on the (id+1, token) equi-join; exact
      // integer min sums; F1 = 2*ov/(|A|+|B|).
      s"""WITH tf AS (SELECT doc_id AS id, token AS w,
                             CAST(count(*) AS BIGINT) AS c
                      FROM documents, UNNEST($duckTokens) AS u(token)
                      GROUP BY 1, 2),
              lens AS (SELECT doc_id AS id,
                              CAST(len($duckTokens) AS BIGINT) AS l
                       FROM documents),
              pairs AS (SELECT a.id AS doc_a, a.l AS len_a, b.l AS len_b
                        FROM lens a JOIN lens b ON b.id = a.id + 1),
              ov AS (SELECT a.id AS doc_a,
                            CAST(SUM(least(a.c, b.c)) AS BIGINT) AS ovl
                     FROM tf a JOIN tf b ON b.id = a.id + 1 AND b.w = a.w
                     GROUP BY 1)
         SELECT doc_a, doc_a + 1 AS doc_b, len_a, len_b,
                COALESCE(ovl, 0) AS overlap,
                round(CASE WHEN len_a > 0 THEN
                  CAST(COALESCE(ovl, 0) AS DOUBLE) / len_a END, 6)
                  AS rouge1_recall,
                round(CASE WHEN len_b > 0 THEN
                  CAST(COALESCE(ovl, 0) AS DOUBLE) / len_b END, 6)
                  AS rouge1_precision,
                round(CASE WHEN len_a + len_b > 0 THEN
                  2.0 * COALESCE(ovl, 0) / (len_a + len_b) END, 6)
                  AS rouge1_f1
         FROM pairs LEFT JOIN ov USING (doc_a)""") { (s, d) =>
      TextAnalytics.rouge1Pairs(Tables.documents(s, d), "doc_id", "text")
    },

    /** §2b skip-gram training pairs at offsets 1–2 with the word2vec
      * vocabulary floor ([[TextAnalytics.skipgramPairs]]) — the embedding
      * training-data generator; one window pass, one count aggregate. */
    Q("q_skipgrams",
      // Aligned-unnest positions (no WITH ORDINALITY in DuckDB), one lead
      // window per offset, exact integer pair counts with the minCount=3
      // vocabulary floor.
      s"""WITH pos AS (SELECT doc_id, unnest($duckTokens) AS w,
                              unnest(generate_series(1,
                                len($duckTokens))) AS p
                       FROM documents),
              pairs AS (SELECT w AS center,
                               lead(w, 1) OVER (PARTITION BY doc_id
                                 ORDER BY p) AS context,
                               1 AS dist
                        FROM pos
                        UNION ALL
                        SELECT w,
                               lead(w, 2) OVER (PARTITION BY doc_id
                                 ORDER BY p),
                               2
                        FROM pos)
         SELECT center, context, CAST(dist AS INT) AS dist,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM pairs WHERE context IS NOT NULL
         GROUP BY 1, 2, 3
         HAVING count(*) >= 3""") { (s, d) =>
      TextAnalytics.skipgramPairs(Tables.documents(s, d), "doc_id", "text",
        minCount = 3L)
    },

    /** §2b BLEU-2 between consecutive documents
      * ([[TextAnalytics.bleuPairs]]) — the precision-side rephrase screen
      * beside q_rouge_pair's recall; clipped n-gram overlaps + brevity
      * penalty. */
    Q("q_bleu_pair",
      // Clipped uni/bigram overlaps on the (id+1, gram) equi-join (the
      // rouge construction); BP and the sqrt geometric mean mirrored
      // term for term.
      s"""WITH tok AS (SELECT doc_id AS id, $duckTokens AS t
                       FROM documents),
              tf1 AS (SELECT id, w, CAST(count(*) AS BIGINT) AS c
                      FROM (SELECT id, unnest(t) AS w FROM tok)
                      GROUP BY 1, 2),
              tf2 AS (SELECT id, g, CAST(count(*) AS BIGINT) AS c
                      FROM (SELECT id, array_to_string(t[i:i+1], ' ') AS g
                            FROM tok,
                              UNNEST(generate_series(1, len(t) - 1)) AS u(i))
                      GROUP BY 1, 2),
              lens AS (SELECT id, CAST(len(t) AS BIGINT) AS l FROM tok),
              ov1 AS (SELECT a.id AS doc_a,
                             CAST(SUM(least(a.c, b.c)) AS BIGINT) AS o1
                      FROM tf1 a JOIN tf1 b
                        ON b.id = a.id + 1 AND b.w = a.w
                      GROUP BY 1),
              ov2 AS (SELECT a.id AS doc_a,
                             CAST(SUM(least(a.c, b.c)) AS BIGINT) AS o2
                      FROM tf2 a JOIN tf2 b
                        ON b.id = a.id + 1 AND b.g = a.g
                      GROUP BY 1),
              pairs AS (SELECT a.id AS doc_a, a.l AS len_ref,
                               b.l AS len_cand
                        FROM lens a JOIN lens b ON b.id = a.id + 1),
              j AS (SELECT doc_a, len_ref, len_cand,
                           COALESCE(o1, 0) AS overlap1,
                           COALESCE(o2, 0) AS overlap2,
                           CASE WHEN len_cand > 0 THEN
                             CAST(COALESCE(o1, 0) AS DOUBLE) / len_cand
                             END AS p1,
                           CASE WHEN len_cand > 1 THEN
                             CAST(COALESCE(o2, 0) AS DOUBLE)
                               / (len_cand - 1) END AS p2,
                           CASE WHEN len_cand >= len_ref THEN 1.0
                                WHEN len_cand > 0 THEN exp(1.0
                                  - CAST(len_ref AS DOUBLE) / len_cand)
                                END AS bp
                    FROM pairs LEFT JOIN ov1 USING (doc_a)
                               LEFT JOIN ov2 USING (doc_a))
         SELECT doc_a, doc_a + 1 AS doc_b, len_ref, len_cand,
                overlap1, overlap2,
                round(p1, 6) AS p1, round(p2, 6) AS p2,
                round(bp, 6) AS brevity_penalty,
                round(bp * sqrt(p1 * p2), 6) AS bleu2
         FROM j""") { (s, d) =>
      TextAnalytics.bleuPairs(Tables.documents(s, d), "doc_id", "text")
    },
  )
}
