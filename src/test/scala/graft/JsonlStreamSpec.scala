package graft

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._

import graft.io.TempLayouts
import graft.sources.{JsonlMicroBatchStream, JsonlStreamOffset}

/** The connector's MicroBatchStream: offset algebra driven directly
  * (seen-set semantics, admission control, incremental planning) and a
  * real checkpointed readStream that resumes into only-new files.
  */
class JsonlStreamSpec extends SparkSpecBase {
  import testImplicits._
  import JsonlStreamSpec.backlogSliceCounts

  private val schema = "k LONG, s STRING"

  private def appendBatch(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("k", "s").coalesce(1)
      .write.format("graft-jsonl").mode("append").save(dir)

  test("offset algebra: seen-set, maxFiles admission, incremental planning") {
    val dir = TempLayouts.scratch("graft_jsonl_stream_unit_")
    appendBatch(dir, Seq((1L, "a")))
    appendBatch(dir, Seq((2L, "b")))
    appendBatch(dir, Seq((3L, "c")))
    val stream = new JsonlMicroBatchStream(dir, null, 0)
    val init = stream.initialOffset().asInstanceOf[JsonlStreamOffset]
    assert(init.files.isEmpty)
    val all = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[JsonlStreamOffset]
    assert(all.files.size == 3)
    // admission control: one file per batch
    val one = stream.latestOffset(init, ReadLimit.maxFiles(1))
      .asInstanceOf[JsonlStreamOffset]
    assert(one.files.size == 1)
    val two = stream.latestOffset(one, ReadLimit.maxFiles(1))
      .asInstanceOf[JsonlStreamOffset]
    assert(two.files.size == 2)
    // incremental planning covers exactly the delta
    assert(stream.planInputPartitions(one, two).length == 1)
    assert(stream.planInputPartitions(init, all).length == 3)
    assert(stream.planInputPartitions(all, all).isEmpty)
    // offsets survive the JSON round-trip
    assert(stream.deserializeOffset(two.json()) == two)
    // AvailableNow pins the bound: files appearing later are not admitted
    stream.prepareForTriggerAvailableNow()
    appendBatch(dir, Seq((4L, "d")))
    val bounded = stream.latestOffset(init, ReadLimit.allAvailable())
      .asInstanceOf[JsonlStreamOffset]
    assert(bounded.files.size == 3, "AvailableNow bound must exclude late files")
  }

  test("checkpointed resume: a second run processes only files added since") {
    val dir = TempLayouts.scratch("graft_jsonl_stream_e2e_")
    val ckpt = TempLayouts.scratch("graft_jsonl_stream_ckpt_")
    appendBatch(dir, Seq((1L, "a"), (2L, "b")))
    appendBatch(dir, Seq((3L, "c")))

    val out = TempLayouts.scratch("graft_jsonl_stream_out_")
    def runOnce(): Long = {
      val ss = spark.newSession()
      val q = ss.readStream.format("graft-jsonl").schema(schema).load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ss.read.parquet(out).count()
    }

    assert(runOnce() == 3L)
    appendBatch(dir, Seq((4L, "d"), (5L, "e")))
    // same checkpoint → the sink grows by exactly the new file's rows
    assert(runOnce() == 5L)
    // nothing new → no reprocessing, sink unchanged
    assert(runOnce() == 5L)
  }

  test("q100 entry: micro-batched aggregate matches the batch computation") {
    val df = graft.queries.Catalog.queries("q100_stream_dsv2_source")(spark, sf0001)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = graft.io.Tables(spark, sf0001).events
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.map(t => (t._1, t._2)) == expect)
    // the entry's declared state settings: 2 partitions, HDFS-backed
    val stats = graft.streaming.EventStreams.lastRunStats("q100_stream_dsv2_source")
    assert(stats.statePartitions === 2L && stats.provider === "default-hdfs", stats.toString)
    // the backlog's three slices arrive one per batch in the order written
    assert(stats.inputRowsPerBatch === backlogSliceCounts(spark, sf0001), stats.toString)
  }
}

object JsonlStreamSpec {
  /** Row counts of the events backlog's slices (`pmod(event_id, 3)`),
    * in slice order — what q100 and q108 admit one file per batch. */
  def backlogSliceCounts(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] =
    graft.io.Tables(spark, dir).events
      .groupBy(pmod(col("event_id"), lit(3)).as("slice")).count()
      .orderBy(col("slice"))
      .collect().map(_.getLong(1)).toSeq
}
