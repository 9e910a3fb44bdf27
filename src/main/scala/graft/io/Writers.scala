package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Warehouse sink layouts (SNK1 and its scale-out form).
  *
  * The reference writes one CSV (etl.ipynb:210). At warehouse scale the
  * serving layout is what makes queries cheap:
  *
  *  - `partitionBy(quarter)` → partition pruning: a quarter-sliced
  *    dashboard query reads 1/4 of the files (shows up as
  *    `PartitionFilters` in the scan).
  *  - bucketing by the frequent join key co-locates both sides of a
  *    fact-dim join: the shuffle disappears from every downstream join
  *    on that key (one-time cost at write).
  */
object Writers {

  /** Quarter-partitioned parquet — the serving layout for the wide
    * table; dashboard quarter filters prune partitions at plan time. */
  def wideTablePartitioned(wide: DataFrame, path: String): Unit =
    wide.write.mode(SaveMode.Overwrite)
      .partitionBy("quarter")
      .parquet(path)

  /** Generic hive-style partitioned parquet sink — equality/IN filters
    * on the partition columns prune directories at plan time
    * (`PartitionFilters` in the scan, zero data files touched outside
    * the slice). */
  def partitionedParquet(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Bucketed EXTERNAL table for shuffle-free joins on `bucketCol`
    * (bucketing requires saveAsTable): bucket metadata in the (in-memory)
    * session catalog, data files at `path` — so the layout's disk
    * lifecycle can be owned by [[TempLayouts]] like every other
    * JVM-scoped layout instead of accumulating in the default warehouse
    * dir. The input is
    * pre-shuffled into exactly `buckets` partitions on the bucket column:
    * `repartition(buckets, col)` and the bucketed-write hash are the same
    * Murmur3-mod, so each task holds exactly one bucket's rows and each
    * bucket lands as ONE sorted file — which is what lets a downstream
    * sort-merge join skip the per-bucket re-sort, not just the shuffle. */
  def bucketedExternalTable(df: DataFrame, table: String, path: String,
      bucketCol: String, buckets: Int): Unit =
    df.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** ORC sink — the columnar alternative where the lake standard is ORC;
    * same pushdown/pruning properties as parquet via the vectorized
    * reader. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** JSON-lines sink — the interchange format of most LLM data tooling;
    * schema-on-read on the way back in (pass the schema explicitly to
    * skip the inference pass at scale). */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
}
