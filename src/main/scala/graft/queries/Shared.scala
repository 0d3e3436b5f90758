package graft
package queries

/** Helpers shared by more than one query family: the DuckDB tokenizer and
  * sentence-splitter expressions and the hashed quality-classifier weights. */
object Shared {

  /** Deterministic dyadic-rational classifier parameters (multiples of
    * 1/1024, exactly representable in binary → per-doc logits are EXACT
    * sums, hash-comparable cross-engine with no rounding): a stand-in for
    * weights learned offline, shipped to the score query as literals. */
  private[queries] val classifierWeights: Seq[Double] =
    (0 until 64).map(i => (((i * 37 + 11) % 97) - 48) / 1024.0)
  private[queries] val classifierBias: Double = 3.0 / 1024.0

  /** Guarded DuckDB tokenizer matching TextFunctions.tokens (empty/blank
    * text → empty list, not ['']) over an arbitrary column/expression.
    * Oracle strings must build every tokenizer use from this (or the
    * `duckTokens` instance over `text`); EntrySpec pins all inline copies
    * byte-identical so tokenizer-semantics changes cannot drift. */
  private[graft] def duckTokensOf(c: String): String =
    s"CASE WHEN trim($c) = '' THEN CAST([] AS VARCHAR[]) " +
      s"ELSE string_split_regex(trim($c), '\\s+') END"

  private[graft] val duckTokens: String = duckTokensOf("text")

  /** Guarded DuckDB sentence splitter matching TextFunctions.sentences
    * (same RE2 pattern, empty segments dropped) — pinned by EntrySpec like
    * the tokenizer. */
  private[graft] val duckSentences: String =
    "list_filter(string_split_regex(trim(text), '[.!?]+\\s+|[.!?]+$'), " +
      "s -> len(s) > 0)"

  /** DuckDB DOUBLE[] literal of the classifier weights. The weights are
    * dyadic rationals (multiples of 1/1024), so the 10-decimal forms below
    * are EXACT — both engines parse back the identical double. */
  private[queries] def classifierWeightsSql: String =
    "[" + classifierWeights.map(w => f"$w%.10f").mkString(", ") + "]"

  private[queries] def classifierBiasSql: String = f"$classifierBias%.10f"
}
