package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps.ShingleWords
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions.{dotProduct, l2Norm}

/** The higher-order-function formulations the native expressions
  * replaced, kept only as independent cross-checks for the specs: each
  * must give the same values as the native path it stands beside. */
object HofReference {

  /** The pre-native HOF formulation of `DedupOps.shingled` over the
    * xxhash64 gram family (interpreted lambda dispatch per gram made it
    * the measured per-row bottleneck of the dedup family at corpus
    * scale). */
  def shingledHof(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("th", expr("transform(regexp_extract_all(text, '\\\\S+', 0), t -> xxhash64(t))"))
      .withColumn("shingles", expr(
        s"""array_sort(array_distinct(transform(
           |  sequence(1, greatest(size(th) - ${ShingleWords - 1}, 1)),
           |  i -> aggregate(slice(th, i, $ShingleWords), ${graft.functions.expressions.NgramHashes.Seed}L,
           |         (acc, h) -> (shiftleft(acc, 13) | shiftrightunsigned(acc, 51)) ^ h))))""".stripMargin))
      .select(col("doc_id"), col("shingles"))

  /** 64-bit SimHash over word tokens (per-bit ±1 sums over token hashes,
    * thresholded to a bit vector): the cross-check for the native
    * `DedupOps.simhashSignature`; specs assert the packed bits equal the
    * native long. */
  def withSimhashBits(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", tokens(col("text")))
      .withColumn("th",
        transform(array_distinct(col("toks")),
          t => call_function("md5_prefix64", t)))
      .withColumn("sums", expr(
        """aggregate(th, array_repeat(0L, 64),
          |  (acc, h) -> zip_with(acc,
          |     transform(sequence(0, 63), b -> IF((shiftright(h, b) & 1) = 1, 1L, -1L)),
          |     (x, y) -> x + y))""".stripMargin))
      .withColumn("bits", expr("transform(sums, s -> IF(s >= 0, 1, 0))"))
      .select(col("doc_id"), col("bits"))

  /** The repetition numerator as the HOF `TextOps.gopherSignals` used
    * before the native `top_repeat_counts` — O(|distinct|·|items|) per
    * row. */
  def maxRepeatHof(items: Column): Column =
    aggregate(array_distinct(items), lit(0),
      (acc, w) => greatest(acc, size(filter(items, x => x === w))))

  /** Adjacent-token bigram array — companion of [[maxRepeatHof]] for the
    * bigram half of the cross-check. */
  def bigramsOfHof(arr: Column): Column =
    when(size(arr) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(arr) - 1),
        i => concat(element_at(arr, i), lit(" "), element_at(arr, i + 1))))

  /** Cosine similarity as a HOF, the cross-check for the native
    * `cosine_similarity` expression. */
  def cosineSimilarityHof(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))
}
