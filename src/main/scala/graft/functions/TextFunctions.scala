package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the documents corpus — shingling,
  * tokenization, hashing, fingerprinting (SURVEY.md §2.2 L-table and the
  * training-data-pipeline mandate).
  *
  * Everything here is built-in Catalyst expressions (higher-order functions
  * over arrays), so plans stay inside whole-stage codegen and are
  * reproducible in ANSI SQL for the DuckDB oracle.
  */
object TextFunctions {

  /** Distinct character n-gram shingles of a text column.
    * Empty array for texts shorter than n.
    */
  def charShingles(text: String, n: Int): Column =
    expr(s"""CASE WHEN length($text) >= $n
             THEN array_distinct(transform(
                    sequence(1, length($text) - ${n - 1}),
                    i -> substring($text, i, $n)))
             ELSE array() END""")

  /** Whitespace tokens with empties dropped (multi-space safe). */
  def tokens(text: String): Column =
    expr(s"filter(split($text, ' '), t -> t != '')")

  private def tokensSql(text: String) = s"filter(split($text, ' '), t -> t != '')"

  /** All word n-grams (space-joined, WITH multiplicity — the language-model
    * counting form) over the token array. Array-local: no positional self-join, no shuffle —
    * each doc's n-grams materialize inside the row's projection. The
    * explicit size guard matters: `sequence(1, 0)` is the DESCENDING
    * sequence [1, 0], not empty.
    */
  def wordNgrams(text: String, n: Int): Column =
    expr(s"""CASE WHEN size(${tokensSql(text)}) >= $n THEN
               transform(sequence(1, size(${tokensSql(text)}) - ${n - 1}),
                         i -> array_join(slice(${tokensSql(text)}, i, $n), ' '))
             ELSE array() END""")

  /** Numeric code of a 3-char shingle: ascii₁·65536 + ascii₂·256 + ascii₃.
    * Injective for ASCII input — used as the MinHash pre-hash so DuckDB can
    * reproduce it exactly.
    */
  def shingleCode(sh: String): Column =
    expr(s"ascii(substring($sh,1,1)) * 65536 + ascii(substring($sh,2,1)) * 256 + ascii(substring($sh,3,1))")

  /** Polynomial token hash: fold (acc·mult + ascii(char)) mod 1000003, in
    * character order. SQL-reproducible (DuckDB list_reduce). Distinct
    * multipliers give the independent hash lanes a >16-bit SimHash needs
    * (acc < 2^20 and mult ≤ 43 keep the fold far from LONG overflow).
    */
  def tokenHash(tok: String, mult: Long = 31L): Column =
    org.apache.spark.sql.functions.call_function("poly_token_hash",
      expr(tok), org.apache.spark.sql.functions.lit(mult))

  /** The HOF spelling of [[tokenHash]] — kept as the in-Spark oracle
    * pinning the native [[PolyTokenHash]] codegen loop (Catalyst HOFs run
    * their lambda interpreted per element, which is why the hot path
    * moved to the native expression).
    */
  def tokenHashHof(tok: String, mult: Long = 31L): Column =
    expr(s"""aggregate(sequence(1, length($tok)), 0L,
             (acc, i) -> (acc * $mult + ascii(substring($tok, i, 1))) % 1000003)""")

  /** Rolling-hash document fingerprint: min over all w-char windows of the
    * polynomial hash Σ ascii(text[i+p])·31^(w-1-p) mod 1e9+7 — computed by
    * the native O(len) [[RollingMinHash]] expression (the HOF formulation
    * below re-evaluated w interpreted calls per window; VERDICT r3 item 3).
    */
  def rollingFingerprint(text: String, w: Int = 8): Column =
    RollingMinHash(expr(text), w)

  /** The original HOF formulation — kept as the in-Spark oracle for
    * [[RollingMinHash]]'s equivalence spec (bit-identical output required).
    */
  def rollingFingerprintHof(text: String, w: Int = 8): Column = {
    val mod = 1000000007L
    val terms = (0 until w).map { p =>
      val pow = BigInt(31).pow(w - 1 - p).toLong
      s"ascii(substring($text, i + $p, 1)) * ${pow}L"
    }.mkString(" + ")
    expr(s"""CASE WHEN length($text) >= $w
             THEN array_min(transform(
                    sequence(1, length($text) - ${w - 1}),
                    i -> ($terms) % ${mod}L))
             ELSE -1L END""")
  }
}
