package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization + tokenization, the Spark-native equivalent of the
  * reference's normalizer/tokenizer surface.
  *
  * - Lowercase/de-diacritic normalizer mirrors
  *   `ingest/.../normalizer/LcNoDiacriticsNormalizer.java:91-106` (NFD →
  *   strip combining marks → NFC → lowercase).
  * - Tokenization implements the *intent* of
  *   `ingest/.../ingest/WikipediaMapper.java:226-234` (iterate all tokens,
  *   lowercased; the reference has a known bug where `tok.toString()` is
  *   added once instead of iterating the stream — we deliberately deviate
  *   and document it, per SURVEY.md §2.8).
  *
  * Everything that can be a built-in Column expression is one (codegen'd,
  * pushdown-friendly); only the diacritic strip needs a UDF because Spark
  * has no Unicode-normalization built-in.
  */
object TextFunctions {

  /** Strip diacritics + lowercase — the reference's LcNoDiacriticsNormalizer. */
  def lcNoDiacritics(s: String): String =
    if (s == null) null
    else {
      val nfd      = Normalizer.normalize(s, Normalizer.Form.NFD)
      val stripped = nfd.replaceAll("\\p{InCombiningDiacriticalMarks}+", "")
      Normalizer.normalize(stripped, Normalizer.Form.NFC).toLowerCase(java.util.Locale.ENGLISH)
    }

  val lcNoDiacriticsUdf = udf(lcNoDiacritics _)

  /** Column form: lowercase + de-diacritic. Uses the UDF only when the
    * input may contain non-ASCII; for known-ASCII columns prefer `lower`.
    */
  def normalize(c: Column): Column = lcNoDiacriticsUdf(c)

  /** Suppress MediaWiki markup that would otherwise index junk tokens —
    * the intent of the reference's Lucene `WikipediaTokenizer`
    * (`ingest/.../ingest/WikipediaMapper.java:228`), which skips file /
    * template / URL syntax. Removed wholesale: `[[File:…]]` /
    * `[[Image:…]]` / `[[Media:…]]` blocks, `{{template}}` calls (up to
    * 4 nesting levels, innermost first), and bare URLs. Ordinary
    * `[[link|label]]` brackets are left for the word split to discard —
    * their inner words SHOULD index. Documented deviation: a nested
    * `[[File:…[[x]]…]]` caption tail survives (non-greedy match) — the
    * reference's tokenizer state machine handles that case; a regex pass
    * keeps this dependency-free and covers the markup the corpus has.
    */
  def stripWikiMarkup(s: String): String =
    if (s == null) null
    else {
      var t = s.replaceAll("(?is)\\[\\[(?:file|image|media):.*?\\]\\]", " ")
      var prev: String = null
      var i = 0
      while (i < 4 && t != prev) {
        prev = t
        t = t.replaceAll("(?s)\\{\\{[^{}]*\\}\\}", " ")
        i += 1
      }
      t.replaceAll("(?i)\\bhttps?://\\S+", " ")
    }

  private val markupLcUdf = udf((s: String) => lcNoDiacritics(stripWikiMarkup(s)))

  /** Tokenize a text column into an array of normalized word tokens:
    * strip wiki markup, lc-no-diacritics the whole text, then split on
    * runs of non-letter/non-digit (Unicode classes — an ASCII-only split
    * would shred accented words like 'cálculo' into 'c'+'lculo' and make
    * them unfindable under the normalizer the metadata declares for TEXT).
    */
  def tokenize(text: Column): Column =
    array_remove(split(markupLcUdf(text), "[^\\p{L}\\p{N}]+"), "")

  /** Tokenize on single spaces only — exact-parity tokenizer for the
    * driver's synthetic `documents` table (space-separated words), with a
    * trivially matching DuckDB oracle (`string_split(text, ' ')`).
    *
    * Both tokenizers drop empty tokens with `array_remove`, never with a
    * `filter` lambda: every frame derived from one tokenized column
    * shares its analyzed lambda variable, and frames optimized at the
    * same time (the concurrent part writes of a live version, each
    * evaluating a local batch's projection on the driver) overwrite each
    * other's value — their tables then hold other documents' tokens.
    */
  def tokenizeWs(text: Column): Column =
    array_remove(split(text, " "), "")

  /** Distinct tokens per document (reference collects tokens into a
    * HashSet before indexing — `WikipediaMapper.getTokens:226-234`). */
  def distinctTokens(text: Column): Column = array_distinct(tokenize(text))

  /** Non-empty and free of Java-regex metacharacters — the ONE literal
    * test shared by the index access path (`WikiSearchEngine
    * .classifyRegex`) and the residual specialization in `jexlMatches`,
    * so the two can never drift into classifying a shape differently.
    */
  private val RegexMeta = ".+*?[](){}|\\^$".toSet
  def plainRegexLiteral(s: String): Boolean =
    s.nonEmpty && !s.exists(RegexMeta.contains)

  /** Full-string DOTALL regex match — JEXL `=~` semantics
    * (`query/.../jexl/Arithmetic.java:108-128`): Pattern.matches with
    * DOTALL. Spark's `rlike` is find-based, so anchor and set (?s).
    *
    * Anchored-LITERAL shapes compile to the equivalent codegen'd string
    * op instead of a regex — `lit` ≡ equality, `lit.*` ≡ startsWith,
    * `.*lit` ≡ endsWith (DOTALL makes the equivalences exact across
    * newlines) — because this lands in the residual filter, which
    * evaluates every value of every candidate document on wildcard
    * queries: the hot path of `ws_q5/q6`-shaped queries.
    */
  def jexlMatches(c: Column, regex: String): Column = {
    if (plainRegexLiteral(regex)) c === lit(regex)
    else if (regex.endsWith(".*") && plainRegexLiteral(regex.dropRight(2)))
      c.startsWith(regex.dropRight(2))
    else if (regex.startsWith(".*") && plainRegexLiteral(regex.drop(2)))
      c.endsWith(regex.drop(2))
    else c.rlike("^(?s:" + regex + ")$")
  }

  /** The exact driver-side twin of `jexlMatches` (full-string DOTALL
    * match) — used by the trigram access path to verify candidate
    * VOCABULARY values at plan time with precisely the semantics the
    * residual would apply, so the planner and residual cannot disagree
    * on a match.
    */
  def jexlMatchesStr(value: String, regex: String): Boolean =
    value != null &&
      java.util.regex.Pattern.compile(regex, java.util.regex.Pattern.DOTALL)
        .matcher(value).matches()

  /** Distinct character trigrams of a string column (pg_trgm-style,
    * without boundary padding): `"column"` → `["col","olu","lum","umn"]`;
    * strings shorter than 3 chars produce an empty array. Pure built-ins
    * (`sequence`+`transform`+`substr`) so the derivation stays inside
    * whole-stage codegen.
    */
  def charTrigrams(c: Column): Column =
    when(length(c) >= 3,
      array_distinct(transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))
}
