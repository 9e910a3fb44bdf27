package graft.similarity

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Persistent IVF index: build ONCE into cell-partitioned parquet, then
  * serve any number of queries with partition-pruned scans.
  *
  * [[SimilarityOps.ivfTopK]] demonstrates the algorithm in a single
  * plan; a production index is a layout, not a query: vectors are
  * shuffled to their coarse cell exactly once at build time and land in
  * `cell_id=<n>/` parquet partitions. A probe then reads ONLY the
  * `nprobe` partitions nearest the query — at 100 TB the scan cost per
  * query is `nprobe/nCells` of the corpus, enforced by partition
  * pruning at plan time (`PartitionFilters` in the scan), not by a
  * runtime filter.
  *
  * The centroid matrix (k×d) is the index metadata: tiny, stored beside
  * the cells, collected to the driver at query time to pick probe cells
  * (equivalent to a broadcast variable, not a data collect).
  */
object IvfIndex {

  private def cellsPath(path: String) = s"$path/cells"
  private def centroidsPath(path: String) = s"$path/centroids"
  private def tombstonesPath(path: String) = s"$path/tombstones"

  private def hasTombstones(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tombstonesPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Assign every vector to its nearest seed centroid
    * ([[SimilarityOps.seedCentroids]]: the first `nCells` vectors) and
    * persist the layout. Centroids are stored in the quantized integer
    * space (`c_qemb`) — the same space assignments are made in, so
    * probe-cell selection at query time replays the exact build-time
    * argmin. One shuffle of the corpus (the partitionBy write), one tiny
    * centroid write. */
  def build(emb: DataFrame, path: String, nCells: Int): Unit = {
    val embQ = SimilarityOps.withQuant(emb)
    val centroids = SimilarityOps.seedCentroids(embQ, nCells)
    SimilarityOps.assignCellsInt(embQ, centroids, carry = Seq("embedding"))
      .select(col("vec_id"), col("embedding"), col("cell_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell_id")
      .parquet(cellsPath(path))
    centroids.write.mode(SaveMode.Overwrite).parquet(centroidsPath(path))
  }

  /** Incremental add — the index-maintenance half of the layout:
    * assign a NEW batch of vectors with the FROZEN stored centroids (no
    * retraining, no rebuild) and append them to the cell layout.
    * O(batch) work: one broadcast-centroid argmin over the new vectors
    * and a partitioned append; existing cell files are never rewritten
    * and the centroid matrix is untouched, so every previously-served
    * probe plan remains valid. This is how a production ANN index
    * absorbs continuously-arriving embeddings — FAISS `add` after
    * `train`, the s-space analog of d15's fingerprint-index ingest.
    * (Centroid drift under sustained adds is a rebuild decision, made
    * offline by comparing cell-count balance — not something an ingest
    * path should do implicitly.) */
  def add(newEmb: DataFrame, path: String): Unit = {
    val centroids = newEmb.sparkSession.read.parquet(centroidsPath(path))
    SimilarityOps.assignCellsInt(
        SimilarityOps.withQuant(newEmb), centroids, carry = Seq("embedding"))
      .select(col("vec_id"), col("embedding"), col("cell_id"))
      .write.mode(SaveMode.Append).partitionBy("cell_id")
      .parquet(cellsPath(path))
  }

  /** Logical delete — the third index-maintenance verb (build / add /
    * delete): append the ids to a tombstone set instead of rewriting
    * cell files. O(batch) like [[add]] — a delete batch is one tiny
    * parquet append; the 100 TB cell layout is never touched (rewriting
    * a cell to remove one vector would re-pay the build shuffle for
    * that cell on every delete). Probes subtract the tombstone set
    * merge-on-read ([[topK]]); [[compactTo]] folds tombstones back into
    * a clean layout when the deleted fraction justifies the rewrite —
    * the FAISS `remove_ids` split into the cheap logical half and the
    * expensive physical half, decided separately (exactly the
    * tombstone/compaction split every LSM/lakehouse table runs on). */
  def delete(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id")).distinct()
      .write.mode(SaveMode.Append).parquet(tombstonesPath(path))

  /** Physical compaction: materialize `cells ∖ tombstones` as a NEW
    * index at `outPath` (same frozen centroids, empty tombstone set).
    * One partitioned write of the surviving vectors — cell assignments
    * are already known, so no centroid argmin re-runs; readers switch
    * paths atomically (a [[graft.io.ManifestLog]] commit governs the
    * switch when the index lives inside a versioned table). */
  def compactTo(spark: SparkSession, path: String, outPath: String): Unit = {
    val cells = spark.read.parquet(cellsPath(path))
    val live =
      if (hasTombstones(spark, path))
        cells.join(spark.read.parquet(tombstonesPath(path)),
          Seq("vec_id"), "left_anti")
      else cells
    live.select(col("vec_id"), col("embedding"), col("cell_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell_id")
      .parquet(cellsPath(outPath))
    spark.read.parquet(centroidsPath(path))
      .write.mode(SaveMode.Overwrite).parquet(centroidsPath(outPath))
  }

  /** Exact-rerank top-k over the persisted index: pick the `nprobe`
    * cells nearest the query from the (driver-held) centroid matrix,
    * scan only those partitions, re-rank with exact cosine. Probe-cell
    * choice happens in the quantized integer space — exact arithmetic,
    * so the choice is bit-replayable in any engine and immune to the
    * float-summation-order hazards a cosine probe would carry. */
  def topK(spark: SparkSession, path: String, queryVec: Array[Float],
      k: Int, nprobe: Int): DataFrame = {
    val centroids = spark.read.parquet(centroidsPath(path))
      .collect()
      .map(r => (r.getAs[Long]("cell_id"),
        r.getSeq[Long](r.fieldIndex("c_qemb")).toArray))
    // Driver-side twin of SimilarityOps.quantizeEmb / SquaredDistanceLong:
    // floor(x * 2^20) + 2^21 per component, then Σ(aᵢ-bᵢ)² in Long.
    val qQ = queryVec.map(v =>
      math.floor(v.toDouble * SimilarityOps.QuantScale).toLong +
        SimilarityOps.QuantOffset)
    def distL(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val probeCells = centroids
      .map { case (id, c) => (id, distL(c, qQ)) }
      .sortBy { case (id, d) => (d, id) }
      .take(nprobe).map(_._1)
    val q = array(queryVec.map(v => lit(v)): _*)
    val probed = spark.read.parquet(cellsPath(path))
      .filter(col("cell_id").isin(probeCells: _*))
    // merge-on-read: subtract the tombstone set AFTER partition pruning
    // (only the probed cells pay the anti-join) and BEFORE the top-k
    // heap (a tombstoned vector must not occupy a result slot). The
    // tombstone side carries no broadcast hint — AQE broadcasts it
    // while small and degrades to a shuffled anti-join when the deleted
    // set grows SF-proportional.
    val live =
      if (hasTombstones(spark, path))
        probed.join(spark.read.parquet(tombstonesPath(path)),
          Seq("vec_id"), "left_anti")
      else probed
    live
      .select(col("vec_id"),
        (round(cosineSimilarity(col("embedding"), q) * 10000))
          .cast("long").as("sim_e4"))
      .orderBy(col("sim_e4").desc, col("vec_id"))
      .limit(k)
  }
}
