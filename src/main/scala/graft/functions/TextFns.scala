package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the word-count and
  * text-analysis operators. All are Catalyst expressions — no UDFs —
  * so they plan, optimize and push down like built-ins.
  *
  * Tokenization semantics mirror the reference engine, both computed
  * by the byte-scan [[Tokenize]] expression:
  *  - alpha runs: maximal `[a-zA-Z]+` runs, case preserved, empties
  *    dropped (reference internal/worker/worker.go:24-38).
  *  - whitespace: `StringTokenizer`-style split on whitespace
  *    (`[ \t\n\x0B\f\r]`), punctuation kept (reference
  *    legacy/.../hw01/WordCount.java:44).
  */
object TextFns {
  import org.apache.spark.sql.GraftSqlShims.{column, expression}

  /** Array of alphabetic tokens; empties removed. */
  def alphaTokens(c: Column): Column = column(Tokenize(expression(c), alpha = true))

  /** Array of whitespace-delimited tokens; empties removed. */
  def wsTokens(c: Column): Column = column(Tokenize(expression(c), alpha = false))

  /** Token count without materializing an explode. */
  def nTokens(c: Column): Column = size(wsTokens(c))

  /** n-shingles from an ALREADY-MATERIALIZED token array column.
    * The lambda references `tokens` per element — pass a plain column
    * (stage the tokenization in a projection first), never a complex
    * expression, or it re-evaluates per element (O(len²) per row —
    * measured 8s → 0.5s on the sf0.1 shingle pipeline).
    */
  def shinglesOf(tokens: Column, n: Int): Column =
    filter(
      transform(tokens, (_, i) => array_join(slice(tokens, i + 1, lit(n)), " ")),
      (_, i) => i <= size(tokens) - n
    )

  /** Word w-shingles (space-joined n-grams of whitespace tokens).
    * Convenience for small inputs/tests; hot paths should stage
    * [[wsTokens]] in a projection and call [[shinglesOf]].
    */
  def wordShingles(c: Column, n: Int): Column = shinglesOf(wsTokens(c), n)

  /** Normalized text for fingerprinting: lowercase, collapse all
    * whitespace runs to single spaces, trim.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Deterministic 128-bit document fingerprint (hex md5 of the
    * normalized text) — portable: identical in DuckDB (`md5(...)`).
    */
  def fingerprint(c: Column): Column = md5(normalizeText(c))
}
