package graft

import java.math.RoundingMode

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.similarity.SimilarityOps

/** Filtered ANN (s22): strategy switch on measured selectivity, exactness
  * of the pre-filter path against a driver-side recompute, predicate
  * pushdown to the parquet scan, and the post-filter path's recall price.
  */
class FilteredAnnSpec extends SparkSpecBase {

  private lazy val emb = Tables(spark, sf0001).embeddings
  private lazy val datasetKey = new java.io.File(sf0001).getCanonicalPath

  /** Driver-side exact filtered top-k, fully independent of the engine
    * path: double cosine accumulated left-to-right (the engines' order),
    * e4 quantization via HALF_UP (Spark round / DuckDB round semantics). */
  private def exactFiltered(k: Int): Map[Long, Seq[(Long, Long)]] = {
    val all = emb.select("vec_id", "embedding", "label").collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))
    }
    val queries = all.filter(v => SimilarityOps.BatchQueryIds.contains(v._1))
    def simE4(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      new java.math.BigDecimal(sim * 10000)
        .setScale(0, RoundingMode.HALF_UP).longValueExact()
    }
    queries.map { case (qid, qv, _) =>
      val scored = all.filter(v => v._3 == 3 && v._1 != qid)
        .map(v => (v._1, simE4(qv, v._2)))
        .sortBy { case (id, s) => (-s, id) }
        .take(k)
      qid -> scored.toSeq
    }.toMap
  }

  test("strategy switches on measured selectivity") {
    assert(SimilarityOps.filteredStrategy(emb, col("label") === 3, 0.25)
      == "prefilter")
    assert(SimilarityOps.filteredStrategy(emb, col("label") =!= 3, 0.25)
      == "postfilter")
  }

  test("pre-filter path is exact: matches a driver-side recompute") {
    val got = SimilarityOps.filteredTopKBatch(
        emb, SimilarityOps.BatchQueryIds, k = 10, pred = col("label") === 3,
        datasetKey = datasetKey)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      }
    val want = exactFiltered(10)
    assert(got.keySet == want.keySet)
    for (qid <- want.keySet) assert(got(qid) == want(qid), s"qid=$qid")
  }

  test("pre-filter predicate reaches the parquet scan as a pushed filter") {
    val df = SimilarityOps.filteredTopKBatch(
      emb, SimilarityOps.BatchQueryIds, k = 10, pred = col("label") === 3,
      datasetKey = datasetKey)
    df.collect()
    val scans = df.queryExecution.executedPlan.toString
    assert(scans.contains("PushedFilters") && scans.contains("EqualTo(label,3)"),
      scans.take(4000))
  }

  test("post-filter plan (forced) holds no runtime Bloom filter") {
    // the stored centroids report their true size; a 1.7e15-byte
    // estimate (a checkpointed k-means frame's) makes InjectRuntimeFilter
    // ship a 1 MiB Bloom filter in every task
    val df = SimilarityOps.filteredTopKBatch(
      emb, SimilarityOps.BatchQueryIds, k = 10, pred = col("label") === 3,
      datasetKey = datasetKey, maxExactFrac = 0.0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("might_contain") && !plan.contains("bloom_filter_agg"),
      plan.take(4000))
  }

  test("post-filter path (forced) pays recall, never exceeds exact, keeps the predicate") {
    val post = SimilarityOps.filteredTopKBatch(
        emb, SimilarityOps.BatchQueryIds, k = 10, pred = col("label") === 3,
        datasetKey = datasetKey, maxExactFrac = 0.0)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(_.getLong(2)).toSet }
    val want = exactFiltered(10).map { case (q, s) => q -> s.map(_._1).toSet }
    // every returned row satisfies the predicate
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(post.values.flatten.forall(labels(_) == 3))
    // recall@10 across the batch. Measured grid (sf0.001, nprobe=8/16
    // cells, selectivity ~0.09): overfetch 4 → 0.32, 10 → 0.62,
    // 20 → 0.62, 40 → 0.62. Two structural pins instead of one magic
    // number: (a) selectivity-scaled overfetch (≥ k/frac ⇒ of≈10+)
    // recovers the predicate loss the naive of=4 suffers; (b) the
    // recovery plateaus at the PROBE ceiling — past the plateau more
    // overfetch buys nothing, only more nprobe would.
    def recallAt(of: Int): Double = {
      val p = SimilarityOps.filteredTopKBatch(
          emb, SimilarityOps.BatchQueryIds, k = 10, pred = col("label") === 3,
          datasetKey = datasetKey, maxExactFrac = 0.0, overfetch = of)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
      val hits = want.keys.toSeq.map(q =>
        (p.getOrElse(q, Set.empty) & want(q)).size).sum
      hits.toDouble / want.values.map(_.size).sum
    }
    val naive = want.keys.toSeq.map(q =>
      (post.getOrElse(q, Set.empty) & want(q)).size).sum.toDouble /
      want.values.map(_.size).sum
    val scaled = recallAt(20)
    assert(naive >= 0.25, s"naive=$naive")
    assert(scaled >= naive + 0.15, s"scaled=$scaled naive=$naive")
    assert(scaled >= 0.55 && scaled <= 1.0, s"scaled=$scaled")
  }
}
