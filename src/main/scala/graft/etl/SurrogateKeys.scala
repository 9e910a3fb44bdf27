package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-key assignment policies (W4 — ref etl.ipynb:51–52, 78–94
  * assigns ids 1..n by sorted natural key).
  *
  * SURVEY.md §7.4: the parity policy reproduces the reference exactly but
  * funnels the dimension through one partition — correct and cheap for
  * dims (4…3,194 rows; any real dimension under ~10M), wrong for a
  * billion-row dimension. The scale policy keeps dense ids at full
  * parallelism.
  */
object SurrogateKeys {

  /** Parity policy: dense 1..n ids in natural-key sort order.
    * `row_number` over an unpartitioned window — single-partition sort,
    * acceptable only because dimensions are small by design. */
  def sortedRowNumber(key: Column): Column =
    row_number().over(Window.orderBy(key)).cast("int")

  /** Scale policy: dense ids without a global sort. Range-repartition +
    * sort-within-partitions by key, stamp `monotonically_increasing_id()`
    * (= partitionId << 33 | local row index, so both components are
    * recoverable with bit ops), aggregate per-partition counts (one tiny
    * row per partition), prefix-sum them on the driver, and add the
    * offsets back via a broadcast join. Everything stays in whole-stage
    * codegen — no RDD drop-out, no `Row.fromSeq` re-encode.
    *
    * The sorted frame is frozen with an eager `localCheckpoint`, not a
    * plain persist, because BOTH the range-partitioner sample seed and
    * `monotonically_increasing_id` are nondeterministic and the counts
    * pass and the id pass MUST see identical partitions. A persist
    * would silently RECOMPUTE a lost partition (executor death) with a
    * fresh sample seed between the two passes, yielding duplicate or
    * skipped ids with no error; the checkpoint truncates lineage, so a
    * lost block fails the job loudly instead — rerun and get correct
    * ids. On a real cluster, a job that cannot afford the retry uses a
    * reliable checkpoint or writes/reads an intermediate table here
    * (same two-pass plan, durable freeze). Checkpoint blocks are
    * reclaimed by the ContextCleaner once the result is unreachable. */
  def denseIds(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    denseIdsBy(df, Seq(col(keyCol)), idCol)

  /** [[denseIds]] generalized to a composite sort order (e.g. `tokens
    * DESC, doc_id ASC` for longest-first shard striping, t30): dense
    * 1..n ids in the given order at full parallelism — the same
    * range-partition + local-sort + per-partition prefix-sum two-pass,
    * never a single-partition window. */
  def denseIdsBy(df: DataFrame, sortCols: Seq[Column], idCol: String): DataFrame = {
    val spark = df.sparkSession
    val LocalBits = 33 // monotonically_increasing_id's local-index width
    val parted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .localCheckpoint()
    val counts = parted
      .groupBy(shiftright(col("_mid"), LocalBits).as("_pid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    import spark.implicits._
    val offsetsDf = counts.map(_._1).zip(offsets).toSeq.toDF("_pid", "_off")
    parted
      .withColumn("_pid", shiftright(col("_mid"), LocalBits))
      .join(broadcast(offsetsDf), Seq("_pid"))
      .withColumn(idCol,
        col("_off") + col("_mid").bitwiseAND(lit((1L << LocalBits) - 1)) + 1)
      .drop("_mid", "_pid", "_off")
  }
}
