package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{ManifestLog, Tables}
import graft.queries.GraftQuery

/** Incremental warehouse maintenance via DYNAMIC partition overwrite —
  * the batch-ETL idiom that makes a 100 TB aggregate table maintainable:
  * the nightly job recomputes ONLY the date partitions that received
  * late data and `INSERT OVERWRITE`s exactly those directories, leaving
  * every other partition's files untouched (no read-modify-write of the
  * table, no full recompute). Spark's
  * `partitionOverwriteMode=dynamic` writer option scopes the overwrite
  * to the partitions present in the incoming frame — the static default
  * would clear the whole table.
  *
  * The demo pipeline: daily (event_date, event_type) counts from the
  * events table. Load 1 writes the full history; a deterministic
  * late-arrival batch (every event_id ≡ 0 mod 13 of the LATEST day
  * arrives a second time) then patches that one day by rewriting only
  * its partition with the day's recomputed counts. Both loads are pure
  * integer counts → the final table carries a full DuckDB oracle, and
  * the spec proves the untouched partitions' files were not rewritten.
  */
object IncrementalEtl {

  private def dailyEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(to_date(col("ts")).as("event_date"), col("event_type"), col("event_id"))

  private def counts(df: DataFrame): DataFrame =
    df.groupBy(col("event_date"), col("event_type")).agg(count(lit(1)).as("cnt"))

  /** Load 1: full history, hive-partitioned by day. */
  def fullLoad(spark: SparkSession, dir: String, out: String): Unit =
    counts(dailyEvents(spark, dir)).write
      .partitionBy("event_date").mode("overwrite").parquet(out)

  /** Late batch: the latest day's ≡0 (mod 13) events arrive again; that
    * day is recomputed from (original ∪ late) and ONLY its partition is
    * overwritten (`partitionOverwriteMode=dynamic` scopes the overwrite
    * to partitions present in the frame). The max-date lookup is one
    * tiny agg job (a broadcast scalar, same billing as
    * SimilarityOps.embeddingDim). */
  def latePatch(spark: SparkSession, dir: String, out: String): Unit = {
    val ev = dailyEvents(spark, dir)
    val maxDate = ev.agg(max(col("event_date"))).head().getDate(0)
    val lastDay = ev.filter(col("event_date") === lit(maxDate))
    counts(lastDay.unionByName(lastDay.filter(col("event_id") % 13 === 0)))
      .write.partitionBy("event_date").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(out)
  }

  /** Read the maintained table back (partition column re-materializes as
    * a string key so the oracle compares dates textually). */
  def finalTable(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"), col("cnt"))
      .orderBy(col("event_date"), col("event_type"))

  /** Run the two-load pipeline; returns (final table, layout path). A
    * fresh layout dir per invocation — a catalog entry must not serve
    * stale state across runs — but [[graft.io.TempLayouts.replacing]]
    * deletes the dir the rebuild displaces, so repeated bench/Verify
    * iterations in one JVM hold one live dir, not an unbounded trail
    * (round-4 advisory). */
  def dailyCountsWithLatePatch(spark: SparkSession, dir: String): (DataFrame, String) = {
    val out = graft.io.TempLayouts.replacing(
      "incr#" + new java.io.File(dir).getCanonicalPath, "graft_incr_etl_") { out =>
      fullLoad(spark, dir, out)
      latePatch(spark, dir, out)
    }
    (finalTable(spark, out), out)
  }

  /** Small-file compaction — the OTHER half of warehouse maintenance at
    * 100 TB: streaming/micro-batch ingest leaves thousands of KB-sized
    * files (every scan pays a per-file open + footer read; the metadata
    * store pays a per-file listing), and the nightly compactor rewrites
    * them into right-sized files WITHOUT changing the table's contents.
    * Here ingest is one [[ManifestLog.commitAppend]] of the events table
    * as 8 round-robin files, so every day is spread over all 8;
    * compaction is [[ManifestLog.optimize]] range-partitioned on
    * `event_date` with one target file per day (range partitioning never
    * splits a key across files, so each day lands in exactly one file —
    * readable from the manifest's per-file `event_date` stats). The
    * rewrite publishes as a new manifest version — v0 stays readable for
    * any concurrent scan. Contents are untouched by construction → the
    * catalog entry returns the compacted table and carries a full
    * identity oracle against the source; WritersSpec asserts the
    * before/after file spans. Values travel as integer micro-units so
    * the identity is hash-exact. */
  def compactSmallFiles(spark: SparkSession, dir: String): (DataFrame, String) = {
    val out = graft.io.TempLayouts.replacing(
      "compact#" + new java.io.File(dir).getCanonicalPath, "graft_compact_") { out =>
      val ev = Tables(spark, dir).events
        .select(col("event_id"), to_date(col("ts")).as("event_date"),
          col("event_type"), floor(col("value") * 1e6).cast("long").as("value_micros"))
      val v0 = ManifestLog.commitAppend(spark, out, ev, statsCols = Seq("event_date"), files = 8)
      val days = ManifestLog.snapshot(spark, out, v0).select(col("event_date")).distinct().count()
      ManifestLog.optimize(spark, out, smallBytes = Long.MaxValue,
        statsCols = Seq("event_date"), sortCol = Some("event_date"),
        targetFiles = days.toInt)
    }
    val table = ManifestLog.snapshot(spark, out, ManifestLog.latest(out).get)
      .select(col("event_id"),
        date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"), col("value_micros"))
      .orderBy(col("event_id"))
    (table, out)
  }

  /** Snapshot TIME TRAVEL + diff — the read side of the manifest commits
    * q44/q52 write by: because a commit publishes a NEW manifest version
    * (never an in-place mutation), every prior snapshot stays readable,
    * so yesterday's report is reproducible and "what changed between v0
    * and v1" is a plain two-snapshot join — `VERSION AS OF` plus CDC
    * diff in transactional-format terms. v0 = the daily counts; v1 =
    * the same counts recommitted as a full replace after q48's
    * deterministic late batch (latest day's event_id ≡ 0 mod 13 arrive
    * again). The diff reads BOTH snapshots — the proof that committing
    * v1 destroyed nothing. Group sets match by construction (the late
    * batch only re-delivers existing events), so the diff is an inner
    * join; all-integer counts → full oracle. The diff query touches
    * only the two aggregate snapshots, never the raw events. */
  def snapshotDiff(spark: SparkSession, dir: String): (DataFrame, String) = {
    val out = graft.io.TempLayouts.replacing(
      "ttravel#" + new java.io.File(dir).getCanonicalPath, "graft_time_travel_") { out =>
      val ev = dailyEvents(spark, dir)
      ManifestLog.commitAppend(spark, out, counts(ev), statsCols = Nil)
      val maxDate = ev.agg(max(col("event_date"))).head().getDate(0)
      val late = ev.filter(col("event_date") === lit(maxDate)
        && col("event_id") % 13 === 0)
      ManifestLog.commitEntries(out,
        ManifestLog.stage(spark, out, "v1", counts(ev.unionByName(late)), statsCols = Nil))
    }
    def snap(v: Long, cName: String) = ManifestLog.snapshot(spark, out, v)
      .select(col("event_date"), col("event_type"), col("cnt").as(cName))
    val diff = snap(0L, "cnt_v0")
      .join(snap(1L, "cnt_v1"), Seq("event_date", "event_type"))
      .select(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"), col("cnt_v0"), col("cnt_v1"),
        (col("cnt_v1") - col("cnt_v0")).as("delta"))
      .orderBy(col("event_date"), col("event_type"))
    (diff, out)
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q48_incremental_partition_etl",
      "daily-count table maintained by dynamic partition overwrite of the late-data day",
      (spark, dir) => dailyCountsWithLatePatch(spark, dir)._1,
      Some(
        """WITH ev AS (
          |  SELECT CAST(ts AS DATE) AS event_date, event_type, event_id FROM events),
          |mx AS (SELECT max(event_date) AS d FROM ev),
          |cnts AS (
          |  SELECT event_date, event_type, count(*) AS c FROM ev GROUP BY 1, 2),
          |extra AS (
          |  SELECT event_date, event_type, count(*) AS c
          |  FROM ev, mx WHERE event_date = mx.d AND event_id % 13 = 0
          |  GROUP BY 1, 2)
          |SELECT CAST(c.event_date AS VARCHAR) AS event_date,
          |       c.event_type AS event_type,
          |       CAST(c.c + coalesce(e.c, 0) AS BIGINT) AS cnt
          |FROM cnts c LEFT JOIN extra e
          |  ON c.event_date = e.event_date AND c.event_type = e.event_type
          |ORDER BY 1, 2""".stripMargin)
    ),

    GraftQuery(
      "q52_compact_small_files",
      "small-file compaction: 8-file round-robin ingest rewritten to one file per day",
      (spark, dir) => compactSmallFiles(spark, dir)._1,
      Some(
        """SELECT event_id,
          |       CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
          |       event_type,
          |       CAST(floor(value * 1000000) AS BIGINT) AS value_micros
          |FROM events
          |ORDER BY event_id""".stripMargin)
    ),

    GraftQuery(
      "q68_snapshot_time_travel",
      "read two committed snapshot versions and diff them: reproducible history + CDC-style delta",
      (spark, dir) => snapshotDiff(spark, dir)._1,
      Some(
        """WITH ev AS (
          |  SELECT CAST(ts AS DATE) AS event_date, event_type, event_id FROM events),
          |mx AS (SELECT max(event_date) AS d FROM ev),
          |v0 AS (
          |  SELECT event_date, event_type, count(*) AS c FROM ev GROUP BY 1, 2),
          |v1 AS (
          |  SELECT event_date, event_type, count(*) AS c FROM (
          |    SELECT event_date, event_type, event_id FROM ev
          |    UNION ALL
          |    SELECT ev.event_date, ev.event_type, ev.event_id
          |    FROM ev, mx WHERE ev.event_date = mx.d AND ev.event_id % 13 = 0)
          |  GROUP BY 1, 2)
          |SELECT CAST(v0.event_date AS VARCHAR) AS event_date, v0.event_type,
          |       CAST(v0.c AS BIGINT) AS cnt_v0, CAST(v1.c AS BIGINT) AS cnt_v1,
          |       CAST(v1.c - v0.c AS BIGINT) AS delta
          |FROM v0 JOIN v1 USING (event_date, event_type)
          |ORDER BY 1, 2""".stripMargin)
    )
  )
}
