package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the training-data pipeline layer.
  *
  * Everything here is pure built-in Catalyst expressions (no UDFs) so the
  * hot path stays inside codegen and the same computation is expressible
  * as ANSI SQL for the DuckDB oracle. All outputs are deterministic.
  *
  * A `Column` val is an expression tree, not a value: every place it
  * appears is evaluated on its own. Inside a higher-order function's
  * lambda (`transform`, `filter`, `aggregate`, ...) that means once per
  * ELEMENT, and these lambdas are interpreted (CodegenFallback), so
  * nothing shares the work. Bind such a value with [[let]] first and use
  * the bound variable inside the lambda.
  *
  * One scalar form rides along: [[shinglesOf]] computes [[shingles]] over
  * a row's tokens inside a task. Use it only where an operator already
  * runs a `mapPartitions` over `tokens(lower(text))` and would otherwise
  * pay for the interpreted window lambda; everywhere else (and in every
  * DuckDB-mirrored query) the column form stays.
  */
object Text {

  /** Evaluate `e` once per row and hand it to `f` as a lambda variable:
    * `element_at(transform(array(e), f), 1)`. Every use of the variable
    * inside `f` (nested lambdas included) reads the one value, where a
    * `Column` val used in a lambda body is evaluated again for every
    * element. Null `e` reaches `f` as a null variable, so `f`'s null
    * semantics are unchanged. No Catalyst rule folds this shape away.
    */
  private[graft] def let(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Whitespace tokenization (mirrors
    * `string_split_regex(trim(s), '\s+')`). The trim matters for the
    * cross-engine oracles: leading/trailing whitespace would otherwise
    * produce empty-string fields whose count and position differ between
    * Java's split and DuckDB's string_split_regex — trimming first makes
    * both dialects agree for every input (a whitespace-only or empty
    * string still yields the single token "" in both).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text)))

  /** BPE-style pre-tokenizer count: letter runs, digit runs, and single
    * punctuation marks each count as one token (the GPT-2 pre-tokenizer
    * shape, ASCII classes only so the Java and RE2 dialects agree —
    * tested identical against DuckDB on the corpus). A closer proxy for
    * LLM token budgets than whitespace splitting.
    */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Count of tokens belonging to a stopword list. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    stopwordHits(tokens(lower(text)), stopwords)

  /** [[stopwordCount]] over an already tokenized (lowercased) array. */
  private def stopwordHits(toks: Column, stopwords: Seq[String]): Column = {
    val set = stopwords.map(lit(_))
    size(filter(toks, t => array_contains(array(set: _*), t)))
  }

  /** Tiny per-language stopword lists for the heuristic language guesser.
    * (The driver testdata has synthetic vocab, so the oracle checks the
    * HEURISTIC's computation, not linguistic truth.)
    */
  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ein")
  val StopFr: Seq[String] = Seq("le", "la", "les", "et", "un")
  val StopEs: Seq[String] = Seq("el", "los", "las", "y", "una")

  /** Argmax language guess with fixed priority tie-break
    * (en > de > fr > es > unknown) — deterministic by construction.
    */
  def langGuess(text: Column): Column = let(tokens(lower(text))) { toks =>
    val en = stopwordHits(toks, StopEn)
    val de = stopwordHits(toks, StopDe)
    val fr = stopwordHits(toks, StopFr)
    val es = stopwordHits(toks, StopEs)
    when(en + de + fr + es === 0, lit("unknown"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Quality features: ratio-free integer counts (exact cross-engine). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))

  /** Order-insensitive document fingerprint: sha256 of the sorted distinct
    * lowercase token set. Two docs with the same bag-of-words (ignoring
    * multiplicity and order) collide — a cheap shuffle-robust near-dup key.
    */
  def fingerprint(text: Column): Column =
    sha2(
      concat_ws(" ", array_sort(array_distinct(tokens(lower(text))))),
      256,
    )

  /** Word n-gram shingles: ["a b c", "b c d", ...]; a doc of fewer than
    * n tokens yields its whole (lowercased, re-joined) text as one
    * shingle. The tokens are bound once ([[let]]): the window lambda
    * reads them for every window.
    */
  def shingles(text: Column, n: Int): Column =
    let(tokens(lower(text))) { toks =>
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(
          transform(
            sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n))),
          )
        )
    }

  /** [[shingles]] over tokens already in a task: the same windows joined
    * by " ", and fewer than `n` tokens give the one re-joined shingle.
    * Null tokens give null. For operators that sketch each row inside a
    * `mapPartitions` over the codegen'd `tokens(lower(text))`, where the
    * column form would be an interpreted window lambda. `TextSpec` pins
    * it to [[shingles]]; the two must not drift apart.
    */
  private[graft] def shinglesOf(tokens: Seq[String], n: Int): Array[String] =
    if (tokens == null) null
    else if (tokens.length < n) Array(tokens.mkString(" "))
    else Array.tabulate(tokens.length - n + 1) { i =>
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      sb.toString
    }

  /** Split a 64-bit simhash into `chunks` equal bit-chunks; two docs within
    * hamming distance < chunks must share at least one chunk (pigeonhole),
    * so chunk equality is a complete candidate filter for that radius.
    */
  def simhashChunks(sim: Column, chunks: Int): Column = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    transform(
      sequence(lit(0), lit(chunks - 1)),
      c => call_function("shiftright", sim, c * width).bitwiseAND(lit(mask)),
    )
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** PII patterns, written to the common subset of Java regex and RE2
    * (DuckDB): explicit ASCII classes, no backreferences, no lookaround —
    * both engines find the same matches. The email host must end in an
    * alphabetic TLD, so `a@1.2.3.4` is NOT an email (its host is counted
    * by the IPv4 rule instead).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Count of non-overlapping matches of `pattern` (a regex literal). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact emails, then IPv4s. Email first: once addresses are gone,
    * the IPv4 pass cannot fire inside what used to be an email's host,
    * and the `<EMAIL>` placeholder contains no digits to re-match.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern,
      "<IP>",
    )
}
