package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns via higher-order
  * functions (SURVEY.md §2.10 L3x): built-ins only, no UDF, no
  * serialization round-trip. `zip_with` and `aggregate` are
  * `CodegenFallback`, so their lambdas are interpreted per row inside the
  * generated stage (ROADMAP Direction 14); `graft.plans.CosineSimilarity` is
  * the codegen'd form of [[cosine]].
  *
  * Determinism contract: elements are cast float->double (exact), products
  * and the fold accumulate IN ARRAY ORDER in double precision — the same
  * left-to-right accumulation DuckDB's list_dot_product performs, so oracle
  * results are bit-identical.
  */
object VectorFns {

  private def d(a: Column): Column = a.cast("array<double>")

  /** In-order dot product of two float/double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, written exactly as the oracle computes it:
    * dot / (norm(a) * norm(b)). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
