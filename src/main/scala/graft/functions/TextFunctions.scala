package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization / shingling / text-feature primitives for the
  * LLM-training-data operators (dedup, quality, language-ID,
  * fingerprinting). All Column expressions — no UDFs, so the whole
  * pipeline stays in Catalyst; the per-token hot paths are native
  * codegen'd kernels (graft.plans.TextKernels).
  *
  * Reference anchors: abstract cleaning + inverted index
  * (libraries/dlt_utils/openalex/dlt/transform.py:24-64); title
  * normalization (normalize.py:142-179). The dedup/fingerprint surface
  * is beyond-reference (training-data pipeline requirements).
  */
object TextFunctions {

  private def kernel(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftExpr.column(e)
  private def expr(c: Column) = org.apache.spark.sql.GraftExpr.expression(c)

  /** Space-separated tokens (U+0020 only — tabs and newlines stay
    * inside tokens), empty strings dropped; null text gives null.
    * Evaluated by the codegen'd [[graft.plans.Tokens]] kernel. */
  def tokens(text: Column): Column = kernel(graft.plans.Tokens(expr(text)))

  /** Word k-shingles as space-joined strings; empty array when the doc
    * is null or has fewer than k tokens ([[graft.plans.WordShingles]]:
    * one loop per row writes every shingle of the document). */
  def wordShingles(text: Column, k: Int): Column =
    kernel(graft.plans.WordShingles(expr(text), k))

  /** [[charHash]] of every token, in token order — the word ids of the
    * fingerprint, span-dedup and decontamination passes
    * ([[graft.plans.TokenHashes]]); null text gives null. */
  def tokenHashes(text: Column): Column =
    kernel(graft.plans.TokenHashes(expr(text)))

  /** Stride-1 hashes of every `window`-token run ([[tokenHashes]]
    * folded by the rolling [[graft.plans.WindowHashes]]); empty when
    * the doc has fewer than `window` tokens. */
  def windowHashes(text: Column, window: Int): Column =
    kernel(graft.plans.WindowHashes(expr(tokenHashes(text)), window))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * other non-space chars (same regex in the DuckDB oracles). */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Stopword count over the token array. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Sum of token lengths (aggregate HOF fold — exact int arithmetic). */
  def tokenLenSum(text: Column): Column =
    aggregate(tokens(text), lit(0), (acc, t) => acc + length(t))

  /** 2^56 modulus for [[charHash]]: big enough that id collisions are
    * negligible (birthday bound ≈ n²/2^57 — ~7 collisions at a 1e9-word
    * vocabulary), small enough that `h*31 + c` never overflows a signed
    * 64-bit long. */
  val CharHashMod = 72057594037927936L

  /** Deterministic 56-bit polynomial character hash
    * `h ← (h·31 + codepoint) mod 2^56` — the dictionary-free word/shingle
    * id. Pure per-row arithmetic: no vocabulary shuffle, no global sort
    * (the scale-killer the sorted-dictionary id assignment had), and a
    * SQL oracle reproduces it exactly via a `list_reduce` fold, unlike
    * engine-internal hashes (xxhash64 seeds/variants differ across
    * engines). Evaluated by the codegen'd [[graft.plans.CharHash]]
    * expression (one fused loop per row). */
  def charHash(s: Column): Column = kernel(graft.plans.CharHash(expr(s)))
}
