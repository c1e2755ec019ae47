package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The built-in higher-order-function formulations of the native text
  * kernels (graft.plans.TextKernels, graft.plans.CharHash) — executable
  * specs only. Each runs one interpreted lambda call per token or
  * character; production code calls the kernels, and the parity specs
  * (RandomizedParitySpec, PlansSpec) pin kernel == spec on values,
  * data type and nullability. */
object TextSpecs {

  /** Whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Word k-shingles as k−1 `zip_with` passes over shifted slices;
    * empty array when the doc has fewer than k tokens. */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val len = n - (k - 1)
    val joined = (1 until k).foldLeft(slice(toks, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), len), (a, b) => concat(a, lit(" "), b))
    }
    when(n >= k, joined).otherwise(array().cast("array<string>"))
  }

  /** Longest equal run of the sorted array (0 for null or empty). */
  def topCount(arr: Column): Column = {
    val folded = aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (s, x) => {
        val run = when(x <=> s.getField("prev"),
          s.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
    when(size(arr) > 0, folded).otherwise(0)
  }

  /** Fixed-size token chunks, final short chunk kept. */
  def tokenChunks(text: Column, chunkSize: Int): Column = {
    val toks = tokens(text)
    val lastChunk = floor((size(toks) - 1) / lit(chunkSize)).cast("int")
    when(size(toks) > 0,
      transform(sequence(lit(0), lastChunk),
        i => array_join(slice(toks, i * chunkSize + 1, lit(chunkSize)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** charHash of every token (CharHash itself is pinned to
    * [[charHashHof]] in PlansSpec). */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => TextFunctions.charHash(t))

  /** charHash as a per-character fold. */
  def charHashHof(s: Column): Column =
    aggregate(transform(split(s, ""), c => ascii(c)),
      lit(0L), (h, c) => (h * 31 + c) % TextFunctions.CharHashMod)
}
