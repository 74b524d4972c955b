package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column library for large-scale training-data pipelines:
  * tokenization, shingling, quality stats, fingerprints. Pure built-in
  * higher-order functions — everything stays inside whole-stage codegen,
  * no UDFs, so the hot path vectorizes at 100 TB.
  */
object TextFunctions {

  /** Whitespace word list. */
  def words(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish token count: alpha runs, digit runs, and single non-space
    * symbols each count as one token (the usual pre-tokenizer split).
    */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))

  /** Normalized fingerprint text: lowercase, strip non-alphanumerics,
    * collapse whitespace (document fingerprinting pre-pass).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Count of words belonging to `set` (stopword-ratio building block). */
  def wordHits(text: Column, set: Seq[String]): Column =
    size(filter(words(text), w => w.isin(set.map(x => x: Any): _*)))

  // ---- Unicode hygiene (data-poisoning surface) ------------------------
  // Invisible characters survive copy-paste and human review: zero-width
  // spaces/joiners break tokenization and dedup keys (two "identical"
  // docs hash apart), soft hyphens and BOMs pollute n-grams, and the
  // bidi control range is the Trojan-Source vector (text that RENDERS
  // differently than it parses). Both classes are pure RE2-compatible
  // character classes, restatable verbatim in the DuckDB oracle.

  /** Zero-width space/non-joiner/joiner, word joiner, BOM, soft hyphen. */
  val InvisibleClass = "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]"

  /** Bidi embedding/override/isolate controls (Trojan Source). */
  val BidiClass = "[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]"

  /** Text with invisible characters removed (bidi controls are NOT
    * stripped — reordering-sensitive text must be flagged and reviewed,
    * not silently rewritten into its visually-deceptive form).
    */
  def stripInvisible(text: Column): Column =
    regexp_replace(text, InvisibleClass, "")

  /** Count of invisible characters (length delta against the strip). */
  def invisibleCount(text: Column): Column =
    (length(text) - length(stripInvisible(text))).cast("long")

  /** Count of bidi control characters. */
  def bidiCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, BidiClass, ""))).cast("long")

  /** One-pass native n-gram statistics:
    * `struct<n_tokens, n_grams, n_distinct>` over word n-grams
    * ([[graft.functions.expressions.NgramStats]], registered by
    * [[graft.Engine.extensions]]). Value-identical to the
    * word-shingle-array/`array_distinct` composition, but a single
    * codegen'd loop instead of interpreted lambdas re-evaluated per
    * reference — the form every repetition/quality scan wants.
    */
  def ngramStats(text: Column, n: Int): Column =
    call_function("ngram_stats", words(text), lit(n))
}
