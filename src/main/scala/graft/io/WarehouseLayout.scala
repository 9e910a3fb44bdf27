package graft.io

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** JVM-cached warehouse layouts derived from the raw tables — the
  * "write the layout once, prune every query" serving pattern. Same
  * billing shape as the persistent IVF index (SimilarityOps s07/s08):
  * the first request for a dataset pays the one-time partitioned write;
  * every query after that pays only the partition-pruned scan. Layout
  * dirs are per-(JVM, dataset) temp directories ([[TempLayouts.cached]]),
  * removed on exit.
  */
object WarehouseLayout {

  private def cacheKey(dir: String, tag: String): String =
    "warehouse#" + new java.io.File(dir).getCanonicalPath + "#" + tag

  /** lineitem re-laid-out hive-partitioned by ship-quarter label
    * (`ship_quarter=1995Q2/…`) — the time-sliced dashboard's serving
    * layout. ~28 quarters in this data: directory count stays tiny while
    * a one-quarter query reads ~1/28th of the bytes; at 100 TB the same
    * layout bounds a quarter slice to its own files no matter how large
    * the fact table grows. */
  def lineitemByShipQuarter(spark: SparkSession, dir: String): String =
    TempLayouts.cached(cacheKey(dir, "lineitem"), "graft_warehouse_li_") { out =>
      val li = Tables(spark, dir).lineitem.withColumn("ship_quarter",
        concat(year(col("l_shipdate")).cast("string"),
          graft.ops.CoreQueries.quarterLabel(col("l_shipdate"))))
      Writers.partitionedParquet(li, out, "ship_quarter")
    }

  /** lineitem range-partitioned AND sorted by ship DATE within each
    * file — the sort-on-write clustering that makes parquet min/max
    * row-group statistics selective: a date-slice predicate skips whole
    * row groups (and, via the range partitioning, whole FILES) instead
    * of reading and discarding. The hive-partitioned quarter layout
    * above prunes at directory granularity; this one prunes INSIDE the
    * files — the two compose at 100 TB (partition by coarse time, sort
    * by fine time within). The sort/filter key is a materialized DATE
    * column: Spark still writes TimestampType as parquet INT96 by
    * default, and INT96 carries no usable min/max statistics — a
    * timestamp-sorted layout silently loses ALL skipping (measured: the
    * one-week slice read every row); DATE is INT32 with exact stats and
    * full predicate pushdown. WritersSpec quantifies the effect by
    * comparing scan-output rows against a shuffled (stats-useless)
    * layout of the same rows. */
  def lineitemSortedByShipdate(spark: SparkSession, dir: String): String =
    TempLayouts.cached(cacheKey(dir, "li_sorted"), "graft_warehouse_ls_") { out =>
      Tables(spark, dir).lineitem
        .withColumn("ship_date", to_date(col("l_shipdate")))
        .repartitionByRange(8, col("ship_date"))
        .sortWithinPartitions(col("ship_date"))
        .write.mode("overwrite").parquet(out)
    }

  /** Spreads the low 32 bits of a non-negative long so they occupy the
    * EVEN bit positions of the result (Morton bit interleave, the
    * shift-or-mask formulation — 5 codegen'd bitwise steps, no UDF). */
  private def spreadBits(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFFFFFL))
    Seq(16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
      4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
      1 -> 0x5555555555555555L).foreach { case (s, m) =>
      x = x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }
    x
  }

  /** Morton z-value of two non-negative 32-bit keys: bits of `a` at even
    * positions, bits of `b` at odd — points close in z are close in BOTH
    * key dimensions, so sorting by z clusters the file layout for range
    * predicates on EITHER key. */
  def mortonZ(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** lineitem Z-ORDERED by (l_partkey, l_suppkey) — multi-dimensional
    * clustering, the layout q55's single-key sort cannot give: a sort by
    * partkey makes suppkey min/max stats useless (each row group spans
    * the whole supplier range) and vice versa, while a z-sort makes each
    * row group a compact RECTANGLE in (partkey, suppkey) space, so
    * min/max skipping works on both dimensions at once — the standard
    * lakehouse answer when two independent access paths hit one fact
    * table.
    *
    * Each key is min-max scaled to the common 16-bit range BEFORE the
    * interleave — interleaving raw keys silently starves the
    * smaller-domain dimension (measured here: 10 suppliers vs 2,000
    * parts left suppkey with the low bits only, every file spanned all
    * suppliers, zero skipping on that dim). Min/max come from one cheap
    * agg over the keys; at 100 TB with skewed/non-dense keys the same
    * slot takes equi-DEPTH quantile buckets (approx_percentile) instead
    * of equi-width — the interleave is unchanged. The z column is
    * dropped before the write: it orders the rows, the pruning runs on
    * the real key columns' statistics. */
  def lineitemZOrdered(spark: SparkSession, dir: String): String =
    TempLayouts.cached(cacheKey(dir, "li_zorder"), "graft_warehouse_lz_") { out =>
      val li = Tables(spark, dir).lineitem
      val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      def scaled(c: Column, lo: Long, hi: Long): Column =
        (c - lit(lo)) * lit(65535L) / lit(math.max(1L, hi - lo))
      li.withColumn("zval", mortonZ(
          scaled(col("l_partkey"), b.getLong(0), b.getLong(1)).cast("long"),
          scaled(col("l_suppkey"), b.getLong(2), b.getLong(3)).cast("long")))
        .repartitionByRange(64, col("zval"))
        .sortWithinPartitions(col("zval"))
        .drop("zval")
        .write.mode("overwrite").parquet(out)
    }

  /** Equi-depth bucket id (0..bounds.length) of a column against sorted
    * interior cut points: one codegen'd HOF pass counting cuts ≤ value —
    * the monotone quantile-bucket map [[eventsZOrderedEquiDepth]]
    * interleaves. Exposed for the WritersSpec occupancy measurement. */
  private[graft] def equiDepthBucket(value: Column, bounds: Array[Double]): Column =
    aggregate(
      array(bounds.map(lit(_)): _*), lit(0),
      (acc, b) => acc + when(value >= b, 1).otherwise(0))

  /** events Z-ORDERED by (equi-depth bucket of `value`, user_id) — the
    * quantile-bucket variant the [[lineitemZOrdered]] scaladoc promises
    * for skewed/non-dense keys, demonstrated and measured (q62 +
    * WritersSpec) rather than just documented. `value` is a
    * right-skewed double (median ≈ 36, max ≈ 328 in this data):
    * equi-WIDTH 16-bit scaling packs ~6× the ideal mass into its
    * fullest bucket (measured in WritersSpec), so z-cells in the dense
    * region carry unbounded mass — at 100 TB that is an unsplittable
    * hot file. Equi-DEPTH buckets via approx_percentile hold ~1/64 of
    * the rows each BY CONSTRUCTION regardless of skew, bounding every
    * z-cell's mass; the Morton interleave is unchanged (the documented
    * claim). The quantile sketch is one distributed pass
    * (approxQuantile, rel. error 1e-3 — boundary exactness is never a
    * correctness input, the layout only orders rows); user_id, dense
    * and tiny-domain, takes the plain min-max scale. */
  def eventsZOrderedEquiDepth(spark: SparkSession, dir: String): String =
    TempLayouts.cached(cacheKey(dir, "ev_zed"), "graft_warehouse_ze_") { out =>
      val ev = Tables(spark, dir).events
      val nb = 64
      // distinct ascending interior cuts (heavy skew can collapse
      // neighboring quantiles; duplicate cuts would waste bucket ids)
      val bounds = ev.stat.approxQuantile("value",
        (1 until nb).map(_.toDouble / nb).toArray, 0.001).distinct.sorted
      val u = ev.agg(min(col("user_id")), max(col("user_id"))).head()
      val (uLo, uHi) = (u.getLong(0), u.getLong(1))
      ev.withColumn("zval", mortonZ(
          (equiDepthBucket(col("value"), bounds).cast("long") * lit(65535L) /
            lit(math.max(1, bounds.length))).cast("long"),
          ((col("user_id") - lit(uLo)) * lit(65535L) /
            lit(math.max(1L, uHi - uLo))).cast("long")))
        .repartitionByRange(64, col("zval"))
        .sortWithinPartitions(col("zval"))
        .drop("zval")
        .write.mode("overwrite").parquet(out)
    }

  /** events re-landed as a semi-structured VARIANT column in parquet —
    * the Spark-4 ingest shape for payloads whose schema drifts faster
    * than the table's. The JSON envelope (type + nested meta) is parsed
    * ONCE at write time into the binary variant encoding; queries then
    * extract typed paths with `variant_get` as offset reads, never
    * re-parsing text (q21's `get_json_object` re-tokenizes the string on
    * every call — per-access cost that multiplies at 100 TB). Parquet
    * stores the variant as (metadata, value) binary pairs with the usual
    * row-group structure, so the layout scales exactly as any other
    * column — and the envelope is assembled from the RAW columns, so the
    * oracle recomputes from those same columns, layout-independent. */
  def eventsVariantLayout(spark: SparkSession, dir: String): String =
    TempLayouts.cached(cacheKey(dir, "events_variant"), "graft_warehouse_ev_") { out =>
      Tables(spark, dir).events
        .select(
          col("event_id"),
          parse_json(to_json(struct(
            col("event_type").as("t"),
            struct(
              col("user_id").as("u"),
              get_json_object(col("props"), "$.k").cast("long").as("k")
            ).as("m")))).as("v"))
        .write.mode("overwrite").parquet(out)
    }

  /** events written as TWO schema generations under one root — the
    * drift every long-lived table accumulates: `gen=0` (even event_ids)
    * predates the extracted `prop_k` column, `gen=1` (odd) carries it.
    * Subdirectories (not hive partitions — the point is files with
    * DIFFERENT schemas, not a partition column) so a `mergeSchema` read
    * must union the schemas and null-fill the old rows. q88's subject. */
  def eventsTwoGenerationLayout(spark: SparkSession, dir: String): String =
    TempLayouts.cached(cacheKey(dir, "events_gen"), "graft_warehouse_eg_") { out =>
      val ev = Tables(spark, dir).events.select(
        col("event_id"), col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
      ev.filter(col("event_id") % 2 === 0).drop("prop_k")
        .write.mode("overwrite").parquet(s"$out/gen0")
      ev.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$out/gen1")
    }

  /** orders + lineitem written ONCE per (JVM, dataset) as bucketed
    * tables on the order key — the write-once/join-forever layout: every
    * later fact-fact join on that key runs with ZERO Exchange on either
    * side, because both scans already report the matching hash
    * partitioning (q61 demonstrates it under the oracle). Returns the
    * two catalog table names. Tables are EXTERNAL with their files in a
    * [[TempLayouts]] dir (cleaned at exit; the in-memory catalog entries
    * die with the JVM), named per-dataset so two datasets never serve
    * each other's buckets. 8 buckets fit the test scale; at 100 TB the
    * same layout takes O(cluster cores) buckets — the bucket COUNT is
    * the only scale knob, the join plan is unchanged. */
  def bucketedFactTables(spark: SparkSession, dir: String): (String, String) = {
    val canon = new java.io.File(dir).getCanonicalPath
    val suffix = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(canon) & 0x7fffffff)
    val (ordersT, lineitemT) = (s"graft_orders_bk_$suffix", s"graft_lineitem_bk_$suffix")
    TempLayouts.cached("buckets#" + canon, "graft_warehouse_bk_") { out =>
      val t = Tables(spark, dir)
      Writers.bucketedExternalTable(t.orders, ordersT, s"$out/orders",
        "o_orderkey", buckets = 8)
      Writers.bucketedExternalTable(t.lineitem, lineitemT, s"$out/lineitem",
        "l_orderkey", buckets = 8)
    }
    (ordersT, lineitemT)
  }
}
