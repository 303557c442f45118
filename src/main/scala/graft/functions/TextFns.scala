package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text derivations for the [EXT] LLM-data-pipeline operators
  * (SURVEY.md §2.10 L2x/L4x). Everything is built-in-function composition,
  * no UDFs, with exact DuckDB twins for the oracle. `tokens` is codegen'd;
  * `shingles` is built on `transform`, a higher-order function that is
  * `CodegenFallback`: its lambda is interpreted per row inside the
  * generated stage (ROADMAP Direction 14).
  */
object TextFns {

  /** Whitespace tokenization of lowercased, trimmed text.
    * DuckDB twin: string_split_regex(lower(trim(text)), '\s+'). */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct word-5-gram shingles over the token array: shingle i joins
    * tokens[i..i+4] with spaces, i = 1..n-4 (1-based). Documents with
    * fewer than 5 tokens produce NO shingles — matching the DuckDB twin
    * list_distinct(list_transform(range(1, len(toks)-3),
    *   i -> array_to_string(toks[i:i+4], ' '))), whose range is empty for
    * n<5. (Round 1 emitted one short shingle there — a latent divergence
    * masked only because fixture docs all have >=10 tokens.) */
  def shingles(toks: Column): Column =
    when(size(toks) >= 5,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 4),
        i => array_join(slice(toks, i, lit(5)), " "))))
      .otherwise(array().cast("array<string>"))

}
