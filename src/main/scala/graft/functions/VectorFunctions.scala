package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, composed from
  * codegen-friendly built-in higher-order functions (no UDFs — the
  * preference order of SURVEY.md §7.3 / the Spark guide).
  *
  * All arithmetic is promoted to double before accumulation; `aggregate`
  * folds left-to-right in index order, so results are deterministic and
  * reproducible across partitionings (the fold happens per-row, not
  * across rows).
  */
object VectorFunctions {

  /** Dot product of two numeric arrays, accumulated in double. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dotProduct(a, a)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in double precision — the codegen'd native
    * expression ([[graft.functions.expressions.CosineSimilarity]],
    * registered by [[graft.GraftExtensions]]); single primitive loop
    * inside whole-stage codegen, bit-identical to the HOF formulation
    * `dotProduct(a, b) / (l2Norm(a) * l2Norm(b))` (the test-scope
    * `graft.HofReference.cosineSimilarityHof` cross-checks it). */
  def cosineSimilarity(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** Hamming distance of two int-array signatures (native codegen'd
    * expression via GraftExtensions). */
  def hammingDistance(a: Column, b: Column): Column =
    call_function("hamming_distance", a, b)

  /** Integer squared L2 distance of two bigint-array columns (native
    * codegen'd expression via GraftExtensions) — the engine-portable
    * k-means distance over quantized embeddings. */
  def squaredDistanceLong(a: Column, b: Column): Column =
    call_function("squared_distance_long", a, b)
}
