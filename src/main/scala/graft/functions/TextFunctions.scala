package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression text kit (codegen-friendly; no UDFs on the hot path).
  *
  * Mirrors the reference's structural text primitives: whitespace
  * normalization (reference: src/utils.rs:18-33), the whitespace tokenizer
  * (reference: src/tokenizer.rs:25-65 — structural counts, explicitly not
  * BPE), and sentence counting. Every function here has a DuckDB SQL mirror
  * so oracle-checked queries stay in lock-step.
  */
object TextFunctions {

  /** Collapse whitespace runs to single spaces and trim. */
  def normalizeWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  def duckNormalizeWs(e: String): String =
    s"trim(regexp_replace($e, '\\s+', ' ', 'g'))"

  /** Whitespace tokens; empty/blank text yields an empty array (the
    * reference's `split_whitespace` drops empty spans). Single regex pass:
    * split on the normalized text, then drop the one empty token a blank
    * input produces — evaluating `normalizeWs` once, not twice (this
    * expression gets inlined into lambdas/generators where Spark does no
    * common-subexpression elimination, so every extra reference is a full
    * regex pass per row). */
  def tokens(c: Column): Column =
    filter(split(normalizeWs(c), " "), t => t =!= "")

  /** Scalar twin of `array_distinct(tokens(c))` for driver-side code:
    * the distinct whitespace tokens of `text` in first-occurrence order
    * (null text: none). It does not trim: Spark's `trim` strips only
    * U+0020 while Java's `String.trim` strips every char ≤ U+0020, and
    * the empty tokens an untrimmed split leaves are dropped anyway. */
  def distinctTokens(text: String): Seq[String] =
    if (text == null) Nil
    else text.replaceAll("\\s+", " ").split(" ", -1).toSeq.filter(_.nonEmpty).distinct

  /** Raw-text predicate equivalent to `size(tokens(c)) >= n` — without
    * evaluating the tokenizer. Tokens are exactly the maximal non-\s
    * runs of the text (nonempty splits of \s-normalized text), so
    * "has >= n tokens" is "has >= n runs": for n == 1 any non-\s char
    * (`\S`); for n > 1 the anchored run-counting regex below.
    * Possessive quantifiers (++) make it one linear left-to-right pass
    * with no backtracking, and maximal-run consumption is the only
    * viable parse, so it counts runs exactly. Null text fails both
    * forms (rlike(null) and size(null) = -1 comparisons are both
    * non-true). Use this instead of filtering on size(tokens(...)):
    * the size form either evaluates the tokenizer per row just for the
    * gate, or — filtered above a toks projection — gets re-inlined
    * into the scan filter by predicate pushdown. */
  def hasMinTokens(c: Column, n: Int): Column =
    if (n <= 1) c.rlike("\\S")
    else c.rlike(s"^\\s*+(\\S++\\s++){${n - 1}}\\S")

  /** Let-binding for an expensive array expression: evaluate `arr` ONCE
    * per row and let `f`'s body reference it any number of times.
    * Encoded as `transform(array(arr), x => f(x))[1]`: the lambda
    * variable is opaque to the optimizer (nothing can inline or push
    * through it) and evaluation computes the transform's argument
    * exactly once — where a plain Scala `val` of the Column splices a
    * full copy of the expression tree into EVERY reference (Spark does
    * no cross-reference CSE over higher-order-function trees; a
    * 25-reference quality/lang-id projection was 25 tokenize passes per
    * row). Same value as `f(arr)` by construction, including nulls
    * (`array(arr)` passes a null element through to the lambda). */
  def bindOnce(arr: Column, f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)

  def duckTokens(e: String): String =
    s"list_filter(string_split(${duckNormalizeWs(e)}, ' '), t -> t <> '')"

  /** Structural token count (reference: src/tokenizer.rs:55-65). */
  def tokenCount(c: Column): Column = size(tokens(c))

  def duckTokenCount(e: String): String = s"len(${duckTokens(e)})"

  /** ASCII-digit count. */
  def digitCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[0-9]", ""))

  def duckDigitCount(e: String): String =
    s"(length($e) - length(regexp_replace($e, '[0-9]', '', 'g')))"

  /** ASCII-alphabetic count (the denoiser's alpha gate uses the same class;
    * reference: denoiser_preprocessor.rs:21-32 counts unicode alphabetic —
    * we standardize on ASCII since the oracle and test corpora are ASCII). */
  def alphaCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[A-Za-z]", ""))

  def duckAlphaCount(e: String): String =
    s"(length($e) - length(regexp_replace($e, '[A-Za-z]', '', 'g')))"

  /** digit / (digit + alpha) ratio, 0.0 when no alphanumerics
    * (reference: denoiser_preprocessor.rs:34-45). */
  def digitRatio(c: Column): Column = {
    val d = digitCount(c).cast("double")
    val a = alphaCount(c).cast("double")
    when(d + a === 0.0, 0.0).otherwise(d / (d + a))
  }

  /** Count of sentence-final punctuation runs — a cheap, oracle-portable
    * stand-in for full sentence segmentation (the exact heuristic splitter
    * lives in [[SentenceSplitter]] as a Scala function). */
  def sentenceMarkCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[.!?]+(?:\\s|$)"), lit(0)))

  def duckSentenceMarkCount(e: String): String =
    s"len(regexp_extract_all($e, '[.!?]+(\\s|$$)'))"
}
