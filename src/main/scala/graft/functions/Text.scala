package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives: `functions._` compositions and
  * codegen'd kernels ([[graft.plans]]) — no UDFs, no SerDe round-trip —
  * written so the identical semantics are expressible in ANSI SQL (the
  * DuckDB oracle).
  *
  * Tokenization matches the reference word counter
  * (reference main.go:141-151): split on runs of non-letter runes
  * (`unicode.IsLetter` ⇒ `\p{L}`) FIRST, then lowercase each token —
  * the reference's order, which differs from lowercase-then-split for
  * characters whose lowercase form introduces non-letters (U+0130).
  */
object Text {

  /** Non-letter separator run; `\p{L}` is identical in Java regex
    * (Spark) and RE2 (DuckDB oracle). */
  val SepPattern = "[^\\p{L}]+"

  /** Letter-run tokens of `c`, each lowercased after the split
    * (reference main.go:141-151 order), empties removed. Backed by a
    * codegen'd Catalyst expression ([[graft.plans.TokenizeExpr]]);
    * identical semantics to
    * `filter(transform(split(c, SepPattern), lower), _ =!= "")`. The
    * rows that take the kernel's String path are listed on
    * [[graft.plans.TextKernels.tokens]]. */
  def tokens(c: Column): Column = graft.plans.Exprs.tokens(c)

  /** CJK-AWARE tokens: non-CJK letter runs tokenize exactly as
    * [[tokens]]; runs of unsegmented-script characters (Han, Hiragana,
    * Katakana, Hangul — no whitespace word boundaries) emit
    * overlapping character BIGRAMS instead of one giant run-token.
    * THE DECISION (SURVEY §5): the graded/registered surface keeps
    * [[tokens]] — it is the reference's exact semantics and the
    * oracles replay it — and a CJK-heavy corpus opts the ta_/dd_
    * families into this tokenizer instead; mixed text needs no gating
    * (each run takes its script's path). Codegen'd
    * ([[graft.plans.CjkTokenizeExpr]]); EdgeCaseSpec pins both
    * behaviors on CJK samples. */
  def cjkTokens(c: Column): Column = graft.plans.Exprs.tokensCjk(c)

  /** Case/punctuation-normalized form: letter runs joined by single
    * spaces, separators resolved before lowercasing (same order as
    * `tokens`). Basis for exact-normalized dedup and fingerprints. */
  def normText(c: Column): Column =
    trim(lower(regexp_replace(c, SepPattern, " ")))

  /** Rolling content fingerprint of the normalized text. */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Whitespace-separated token count. */
  def wsTokens(c: Column): Column = regexp_count(c, lit("\\S+"))

  /** BPE-ish sub-token count: letter runs, digit runs, and single
    * non-space symbols each count as one token. */
  val BpePattern = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"
  def bpeTokens(c: Column): Column = regexp_count(c, lit(BpePattern))

  /** Word w-shingles (space-joined runs of `n` consecutive tokens),
    * distinct. Empty when fewer than `n` tokens. */
  def shingles(toks: Column, n: Int): Column =
    array_distinct(ngrams(toks, n))

  /** Word n-grams WITH multiplicity (space-joined runs of `n`
    * consecutive tokens) — the non-distinct form repetition analysis
    * needs; [[shingles]] is its distinct set. Empty when fewer than `n`
    * tokens or `toks` is null. Backed by a codegen'd Catalyst
    * expression ([[graft.plans.NgramsExpr]]). */
  def ngrams(toks: Column, n: Int): Column = graft.plans.Exprs.ngrams(toks, n)
}
