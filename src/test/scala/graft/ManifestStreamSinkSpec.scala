package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.io.{ManifestLog, TempLayouts}
import graft.sources.ManifestStreamSink

/** The streaming manifest sink's exactly-once contract (round-13 verdict
  * item 3), pinned at the two layers it is built from:
  *
  *  1. [[ManifestStreamSink.commitEpoch]] directly — re-commit of epoch k
  *     is a NO-OP (None, head unchanged, replay's staged files deleted,
  *     snapshot row multiset identical), while epoch k+1 publishes a new
  *     version that REUSES epoch k's files by reference. This is the
  *     crash window micro-batch recovery actually replays: the sink
  *     committed but Spark's offset log didn't.
  *  2. End-to-end through writeStream: a second Trigger.AvailableNow run
  *     over the SAME checkpoint + table commits nothing new (restart
  *     no-op), and the final snapshot equals the batch answer.
  */
class ManifestStreamSinkSpec extends SparkSpecBase {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Stage `df` as loose parquet part files in a scratch dir (what the
    * sink's task writers produce, minus the streaming machinery). */
  private def stageFiles(df: DataFrame, epoch: Long): Seq[File] = {
    val scratch = TempLayouts.scratch("graft_sinkspec_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    Option(new File(scratch).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (f, i) =>
        val renamed = new File(scratch, s"e$epoch-p$i-t$i.parquet")
        java.nio.file.Files.move(f.toPath, renamed.toPath)
        renamed
      }.toSeq
  }

  private def rowsOf(base: String, v: Long): Set[(Long, String)] =
    ManifestLog.snapshot(spark, base, v)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet

  test("commitEpoch: replay of a committed epoch is a no-op; the next epoch appends") {
    import testImplicits._
    val base = TempLayouts.scratch("graft_sinkspec_base_")
    val qid = "query-abc"
    val e0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val e1 = Seq((3L, "c")).toDF("k", "s")

    // epoch 0 commits version 0
    val v0 = ManifestStreamSink.commitEpoch(
      spark, base, qid, 0L, stageFiles(e0, 0L), Seq("k"))
    assert(v0.contains(0L))
    assert(ManifestLog.lastStreamEpoch(base, qid).contains(0L))
    assert(rowsOf(base, 0L) === Set((1L, "a"), (2L, "b")))

    // REPLAY of epoch 0 (the crash window): no-op — no new version, the
    // staged replay files are deleted, state identical
    val replayStaged = stageFiles(e0, 0L)
    val replay = ManifestStreamSink.commitEpoch(
      spark, base, qid, 0L, replayStaged, Seq("k"))
    assert(replay.isEmpty, "re-commit of a committed epoch must be a no-op")
    assert(ManifestLog.latest(base).contains(0L), "replay must not publish a version")
    assert(replayStaged.forall(!_.exists()), "replay's staged files must be deleted")
    assert(rowsOf(base, 0L) === Set((1L, "a"), (2L, "b")))

    // epoch 1 commits version 1, REUSING epoch 0's file by reference
    val v1 = ManifestStreamSink.commitEpoch(
      spark, base, qid, 1L, stageFiles(e1, 1L), Seq("k"))
    assert(v1.contains(1L))
    assert(ManifestLog.lastStreamEpoch(base, qid).contains(1L))
    assert(rowsOf(base, 1L) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    val v0Paths = ManifestLog.manifest(base, 0L).filter(_.kind == "data").map(_.path).toSet
    val v1Paths = ManifestLog.manifest(base, 1L).filter(_.kind == "data").map(_.path).toSet
    assert(v0Paths.subsetOf(v1Paths), "the new version must reuse prior files by reference")

    // the txn marker is metadata: exactly one per query, invisible to reads
    val txns = ManifestLog.manifest(base, 1L).filter(_.kind == "txn")
    assert(txns.map(_.path) === Seq(s"txn/$qid") && txns.head.rows === 1L)

    // a SECOND query's epochs interleave without disturbing the first's marker
    val vOther = ManifestStreamSink.commitEpoch(
      spark, base, "query-other", 0L, stageFiles(e1, 0L), Seq("k"))
    assert(vOther.contains(2L))
    assert(ManifestLog.lastStreamEpoch(base, qid).contains(1L))
    assert(ManifestLog.lastStreamEpoch(base, "query-other").contains(0L))
  }

  test("commitEpoch: footer stats ride every streamed commit (pruneRange works)") {
    import testImplicits._
    val base = TempLayouts.scratch("graft_sinkspec_stats_")
    ManifestStreamSink.commitEpoch(spark, base, "q", 0L,
      stageFiles(Seq((10L, "x"), (20L, "y")).toDF("k", "s"), 0L), Seq("k")): Unit
    ManifestStreamSink.commitEpoch(spark, base, "q", 1L,
      stageFiles(Seq((100L, "z")).toDF("k", "s"), 1L), Seq("k")): Unit
    val m = ManifestLog.manifest(base, 1L).filter(_.kind == "data")
    assert(m.forall(_.stats.contains("k")), "every streamed file must carry k stats")
    val (keep, skip) = ManifestLog.pruneRange(m, "k", "90", "200")
    assert(keep.size === 1 && skip.size === 1,
      s"expected the epoch-0 file pruned for k in [90,200]: keep=$keep skip=$skip")
  }

  private def runAvailableNow(ss: SparkSession, backlog: String, schema: String,
      base: String, ckpt: String): Unit = {
    val q = ss.readStream
      .format("graft.sources.JsonlSource")
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .load(backlog)
      .writeStream
      .format("graft.sources.ManifestStreamSink")
      .option("path", base)
      .option("statsCols", "k")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("end-to-end: one version per epoch; restart over the same checkpoint is a no-op") {
    import testImplicits._
    // a 3-file backlog → 3 one-file epochs under maxFilesPerTrigger=1
    val backlog = TempLayouts.scratch("graft_sinkspec_backlog_")
    (0 until 3).foreach { s =>
      Seq.tabulate(4)(i => (s * 10L + i, s"v$s-$i")).toDF("k", "s")
        .coalesce(1)
        .write.format("graft.sources.JsonlSource").mode("append").save(backlog)
    }
    val base = TempLayouts.scratch("graft_sinkspec_e2e_")
    val ckpt = TempLayouts.scratch("graft_sinkspec_ckpt_")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    runAvailableNow(ss, backlog, "k LONG, s STRING", base, ckpt)

    // exactly one manifest version per epoch, snapshot == batch answer
    assert(ManifestLog.versions(base) === Seq(0L, 1L, 2L))
    val snap = ManifestLog.snapshot(spark, base, 2L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet
    val expected = (0 until 3).flatMap(s =>
      Seq.tabulate(4)(i => (s * 10L + i, s"v$s-$i"))).toSet
    assert(snap === expected)

    // RESTART over the same checkpoint + table: the offset log says all
    // files are consumed → no new epochs, no new versions, same state
    runAvailableNow(ss, backlog, "k LONG, s STRING", base, ckpt)
    assert(ManifestLog.versions(base) === Seq(0L, 1L, 2L),
      "a restart with a complete checkpoint must commit nothing")
    val snap2 = ManifestLog.snapshot(spark, base, 2L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet
    assert(snap2 === expected)
  }

  test("DSv2 read of a streamed manifest table round-trips (schema inferred, rows identical)") {
    import testImplicits._
    val base = TempLayouts.scratch("graft_sinkspec_read_")
    ManifestStreamSink.commitEpoch(spark, base, "q", 0L,
      stageFiles(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "d"), 0L),
      Seq("k")): Unit
    ManifestStreamSink.commitEpoch(spark, base, "q", 1L,
      stageFiles(Seq((3L, null.asInstanceOf[String], 3.5)).toDF("k", "s", "d"), 1L),
      Seq("k")): Unit
    val viaDsv2 = spark.read.format("graft-manifest").load(base)
      .collect().map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("s")),
        r.getAs[Double]("d"))).toSet
    val viaSnapshot = ManifestLog.snapshot(spark, base, 1L)
      .collect().map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("s")),
        r.getAs[Double]("d"))).toSet
    assert(viaDsv2 === viaSnapshot)
    assert(viaDsv2 === Set((1L, Some("a"), 1.5), (2L, Some("b"), 2.5), (3L, None, 3.5)))
    // column pruning reaches the reader (projection smaller than table)
    val pruned = spark.read.format("graft-manifest").load(base)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(pruned === Set(1L, 2L, 3L))
    // and the versioned read pins history
    val v0 = spark.read.format("graft-manifest").option("version", 0).load(base)
    assert(v0.count() === 2L)
  }

  test("sortCol epochs: streamed commits skip at batch-sorted effectiveness") {
    import testImplicits._
    // one epoch of 3 task files whose keys INTERLEAVE (k ≡ p mod 3), so
    // every unsorted task file spans nearly the whole key range — the
    // worst case for file skipping that a hash-partitioned stream
    // actually produces
    def taskFiles(epoch: Long): Seq[java.io.File] =
      (0 until 3).flatMap { p =>
        stageFiles((0 until 300).filter(_ % 3 == p)
          .map(k => (k.toLong, s"r$k")).toDF("k", "s"), epoch)
      }
    val unsorted = TempLayouts.scratch("graft_sinkspec_unsorted_")
    ManifestStreamSink.commitEpoch(spark, unsorted, "q", 0L, taskFiles(0L),
      Seq("k")): Unit
    val sorted = TempLayouts.scratch("graft_sinkspec_sorted_")
    ManifestStreamSink.commitEpoch(spark, sorted, "q", 0L, taskFiles(0L),
      Seq("k"), sortCol = Some("k")): Unit
    // identical logical state
    def state(b: String) = ManifestLog.snapshot(spark, b, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(sorted) === state(unsorted))
    // batch-sorted control: the same rows through commitAppend's
    // range-sort path — the effectiveness bar the verdict names
    val batch = TempLayouts.scratch("graft_sinkspec_batch_")
    ManifestLog.commitAppend(spark, batch,
      (0 until 300).map(k => (k.toLong, s"r$k")).toDF("k", "s"),
      Seq("k"), Some("k"), files = 3): Unit
    def keepCount(b: String): Int =
      ManifestLog.pruneRange(
        ManifestLog.manifest(b, 0L).filter(_.kind == "data"),
        "k", "100", "150")._1.size
    // every unsorted file intersects [100,150]; the sorted stream must
    // skip at least as many files as the batch-sorted layout does
    assert(keepCount(unsorted) == 3, "premise: interleaved task files never skip")
    assert(keepCount(sorted) <= keepCount(batch),
      s"sorted stream keeps ${keepCount(sorted)} vs batch ${keepCount(batch)}")
    assert(keepCount(sorted) == 1)
    // the replay no-op contract survives the re-staging path
    val replay = ManifestStreamSink.commitEpoch(spark, sorted, "q", 0L,
      taskFiles(0L), Seq("k"), sortCol = Some("k"))
    assert(replay.isEmpty && ManifestLog.latest(sorted).contains(0L))
  }

  test("q108 catalog entry matches the batch aggregate at sf0.001") {
    val got = graft.queries.Catalog.queries("q108_stream_manifest_sink")(spark, sf0001)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_value_micros"),
          r.getAs[Long]("min_event_id"), r.getAs[Long]("max_event_id")))
      .toMap
    val want = graft.io.Tables(spark, sf0001).events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6).cast("long")).as("sv"),
        min(col("event_id")).as("mn"),
        max(col("event_id")).as("mx"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sv"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))
      .toMap
    assert(got === want)
    // a stateless stream: no state operator, default provider
    val stats = graft.streaming.EventStreams.lastRunStats("q108_stream_manifest_sink")
    assert(stats.statePartitions === 0L && stats.provider === "default-hdfs", stats.toString)
    assert(stats.inputRowsPerBatch === JsonlStreamSpec.backlogSliceCounts(spark, sf0001),
      stats.toString)
  }
}
