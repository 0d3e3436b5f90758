package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY.md §2b): tokenization, token counting, quality signals,
  * language-ID heuristic, document fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` built-ins
  * (codegen'd, whole-stage-compatible) — no UDFs, so the hot path over a
  * 100 TB `documents` table stays vectorized and Catalyst can prune/push.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text. Empty text → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count (whitespace segmentation). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword proxy: number of maximal runs of letters, digits and
    * other non-space characters (a letter/digit/punct boundary starts a new
    * "subword"). Deterministic and cheap; a stand-in for real tokenizer
    * cost models. RE2-compatible patterns (no lookaround), so the same
    * three regexes run in DuckDB/Trino for the oracle. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+"), lit(0))) +
      size(regexp_extract_all(text, lit("[0-9]+"), lit(0))) +
      size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]+"), lit(0)))

  /** Small English stopword list used by the quality/language heuristics. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Number of tokens that are stopwords. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(lit): _*)))

  /** Count of punctuation characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?'\"()\\[\\]{}-]", ""))

  /** Quality score in [0,1]: blend of length band, stopword presence and
    * punctuation sanity — the standard cheap pre-filter for LLM corpus
    * cleaning. Deterministic arithmetic (rounded by callers for oracles). */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lengthOk = when(n.between(5, 5000), lit(1.0)).otherwise(lit(0.0))
    val stopRatio = when(n > 0, stopwordCount(text) / n).otherwise(lit(0.0))
    val punctRatio = when(length(text) > 0, punctCount(text) / length(text).cast("double"))
      .otherwise(lit(0.0))
    val punctOk = when(punctRatio < lit(0.2), lit(1.0)).otherwise(lit(0.0))
    (lengthOk * 0.4) + (least(stopRatio * 5.0, lit(1.0)) * 0.3) + (punctOk * 0.3)
  }

  /** Language-ID heuristic: stopword-hit ratio over an n-gram/stopword
    * profile. With only an English profile this is en-vs-unknown; real
    * deployments add one profile per language (same expression shape). */
  def langIdHeuristic(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val ratio = when(n > 0, stopwordCount(text) / n).otherwise(lit(0.0))
    when(ratio >= 0.05, lit("en")).otherwise(lit("unknown"))
  }

  /** Letter-normalization for n-gram profiling: lowercase, non-letter runs
    * collapsed to single spaces, trimmed. */
  def letterNormalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z]+", " "))

  /** Character trigrams of an ALREADY letter-normalized column. The lambda
    * references `norm` once per element, so callers MUST pass a
    * materialized column (`withColumn`), not an inline expression — an
    * inline `regexp_replace` would be re-evaluated for every trigram
    * (measured 50×+ slowdown). Pure sequence/transform, no UDF. */
  def charTrigramsOf(norm: Column): Column =
    when(length(norm) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(norm) - 2),
        i => norm.substr(i, lit(3))))

  /** Fraction of a trigram-array column's entries that hit a language
    * profile (a small set of that language's most frequent trigrams) — 0
    * for empty arrays. The classic cheap n-gram language-ID signal. Pass a
    * materialized trigram column (same re-evaluation caveat as above). */
  def trigramProfileRatio(tri: Column, profile: Seq[String]): Column =
    when(size(tri) > 0,
      size(filter(tri, t => t.isin(profile.map(lit): _*))).cast("double") / size(tri))
      .otherwise(lit(0.0))

  /** Frequent-trigram profiles (tiny, illustrative: production profiles are
    * learned from a labeled corpus — the expression shape is identical). */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", "nd ", "and", "ing", "ng ", " th", "ed ",
      "er ", " a ", "ion", "on ", "ta ", "dat", "ata"),
    "de" -> Seq("der", "die", "und", "ein", "ich", "sch", "en ", "ch ",
      "cht", "das", " de", "ung", "ber", "gen", "ten"))

  /** N-gram language guess from per-language score COLUMNS (cheap double
    * refs, safe to duplicate in the when-chain): the language with the best
    * ratio, `unknown` below `minScore`; ties break to the first profile in
    * declaration order. */
  def langGuessFromScores(scored: Seq[(String, Column)], minScore: Double = 0.05): Column = {
    val bestScore = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("unknown")) { case ((lang, s), acc) =>
      when(s === bestScore && bestScore >= minScore, lit(lang)).otherwise(acc)
    }
  }

  /** RE2-compatible PII patterns (no lookaround/backrefs — the same strings
    * run in Java regex and DuckDB/RE2 for the oracle). Public so specs and
    * oracles share the single definition. */
  val urlPattern = "https?://[^\\s]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+?[0-9][0-9()\\s.-]{6,}[0-9]"

  /** Mask common PII shapes with typed placeholders — the standard scrub
    * pass before LLM training text leaves curation. URLs first (so an
    * address inside a URL can't be half-masked), then emails, then
    * phone-ish digit runs. Pure regexp_replace chain: codegen'd, map-side,
    * linear at 100 TB. Pattern-based masking is a floor, not a guarantee —
    * production adds NER on top; the pipeline shape is identical. */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "[URL]"),
        emailPattern, "[EMAIL]"),
      phonePattern, "[PHONE]")

  /** PII occurrence counts per text, staged like [[maskPii]] so the
    * categories don't double-count (URLs counted on the raw text, emails
    * on the URL-masked text — an address inside a URL is a URL — phones
    * on the email-masked text). Returns (n_urls, n_emails, n_phones)
    * columns; pure regexp expressions, map-side. The PRIVACY-METRIC
    * complement of maskPii: masking scrubs, density tells you which
    * sources need scrubbing (or excluding) in the first place. */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val noUrl = regexp_replace(text, urlPattern, "[URL]")
    val noEmail = regexp_replace(noUrl, emailPattern, "[EMAIL]")
    Seq(
      "n_urls" -> size(regexp_extract_all(text, lit(urlPattern), lit(0)))
        .cast("long"),
      "n_emails" -> size(regexp_extract_all(noUrl, lit(emailPattern), lit(0)))
        .cast("long"),
      "n_phones" -> size(regexp_extract_all(noEmail, lit(phonePattern), lit(0)))
        .cast("long"))
  }

  /** Strip HTML/XML-ish markup: tags → space, the five standard entities
    * unescaped (literal `replace`, `&amp;` LAST so `&amp;lt;` yields the
    * text `&lt;`, not a double-unescaped `<`), whitespace collapsed. The
    * boilerplate-removal first pass for web-crawl corpora. */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Canonical-form document fingerprint: lowercase, strip non-alphanumerics,
    * md5. Equal fingerprints ⇒ near-identical documents modulo
    * case/punctuation/whitespace — the first-stage exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^0-9a-z]", ""))

  /** Permutation-invariant content fingerprint: md5 over the SORTED token
    * bag (multiplicities kept). Equal fingerprints ⇔ the same words with
    * the same counts in any order — the reordered-paragraph /
    * shuffled-list duplication that [[fingerprint]]'s
    * character-normalized hash misses. Feed to
    * [[graft.operators.Dedup.exactByFingerprint]]-style grouping as a
    * second exact-dedup key; map-side, codegen'd. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokens(text))))

  /** Word n-gram shingles over an ALREADY-materialized token-array column:
    * `["a","b","c","d"]`, n=3 → `["a b c", "b c d"]`.
    *
    * Built as n shifted slices folded with `zip_with` — each slice
    * evaluates the token array ONCE PER ROW. The naive formulation
    * (`transform(sequence(...), i => slice(toks, i, n))`) references the
    * array inside the lambda, and interpreted HOFs re-evaluate that
    * subexpression PER ELEMENT — same trap as [[charTrigramsOf]], measured
    * as the dominant cost of the bigram/contamination queries. Pass a
    * staged column (`withColumn`) so the tokenization itself also runs
    * once, not n times. */
  def shinglesOf(toks: Column, n: Int): Column = {
    require(n > 0, s"shingle width must be positive: $n")
    val m = size(toks) - (n - 1) // number of shingles
    val joined = (1 to n)
      .map(j => slice(toks, lit(j), m))
      .reduce((acc, part) => zip_with(acc, part, (a, b) => concat(a, lit(" "), b)))
    when(m <= 0, array().cast("array<string>")).otherwise(joined)
  }

  /** One-shot form from raw text (small inputs / single use): tokenizes
    * inline, which [[shinglesOf]]'s slices evaluate n times per row —
    * table scans should stage the token array first. */
  def shingles(text: Column, n: Int = 3): Column = shinglesOf(tokens(text), n)

  /** Regex sentence segmentation: split on terminator runs ([.!?]+)
    * followed by whitespace or end-of-text, dropping empty segments.
    * RE2-portable (no lookaround), so the oracle runs the identical
    * pattern in DuckDB. Blank text → empty array. */
  def sentences(text: Column): Column =
    filter(split(trim(text), "[.!?]+\\s+|[.!?]+$"), s => length(s) > 0)

  /** Portable 60-bit token hash: first 15 hex chars of md5 as a long.
    * Identical value is computable in any engine (DuckDB, Trino, …), which
    * keeps MinHash signatures oracle-checkable. */
  def portableHash(s: Column, seed: Int): Column = portableHash(s, lit(seed))

  /** As above with a column seed (for exploded per-seed MinHash passes). */
  def portableHash(s: Column, seed: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), s)), 1, 15), 16, 10)
      .cast("long")

  /** Karp-Rabin polynomial rolling hash over code points (native codegen
    * expression): h = Σ h*31 + cp (mod 1e9+7). Engine-portable (the same
    * recurrence runs in DuckDB via list_reduce), cheaper than md5 — the
    * shard-local content fingerprint for winnowing-style sketches. */
  def rollingHash(text: Column): Column =
    org.apache.spark.sql.graft.expressions.rollingHash(text)

  /** Unicode normalization (native codegen expression; Spark has no
    * built-in). Canonicalize BEFORE any fingerprint/shingle/dedup pass:
    * precomposed vs decomposed renderings of the same visible text hash
    * differently until normalized. Forms: NFC (default), NFD, NFKC, NFKD. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.graft.expressions.unicodeNormalize(text, form)

  /** Accent folding (NFD + drop combining marks, native expression):
    * é→e, ü→u — accent-insensitive matching and fingerprints. Matches
    * DuckDB `strip_accents` on Latin text. */
  def foldAccents(text: Column): Column =
    org.apache.spark.sql.graft.expressions.stripAccents(text)

  /** Jaro-Winkler similarity (native codegen expression; Spark ships only
    * levenshtein) — the record-linkage standard, transposition-tolerant
    * with a common-prefix boost. Bit-equal to DuckDB's
    * `jaro_winkler_similarity` (validated over randomized pairs). */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.expressions.jaroWinkler(a, b)
}
