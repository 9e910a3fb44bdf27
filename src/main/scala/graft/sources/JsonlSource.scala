package graft.sources

import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Native DataSource V2 connector for line-delimited JSON — the connector
  * half of the Catalyst extension matrix (Expression / Generator /
  * Aggregator / TypedImperativeAggregate / Rule / Strategy / SparkPlan all
  * have entries; this adds TableProvider → Table → ScanBuilder → Scan →
  * Batch → PartitionReader, the surface a storage team extends when the
  * built-in readers can't host their format).
  *
  * Usage: `spark.read.format("graft-jsonl")` (registered short name) or
  * `format("graft.sources.JsonlSource")`, with `.schema(...)` or the
  * sampling inference below, and `option("path", dir)`.
  *
  * Scale design (the reason JSONL and not a JSON document): records are
  * newline-framed, so a 100 TB feed splits into byte ranges planned ON THE
  * DRIVER from file lengths alone ([[JsonlScan.planInputPartitions]]) —
  * no central scan, full cluster parallelism, HDFS block locality hints
  * carried per split. The split-ownership contract is the public Hadoop
  * LineRecordReader one: a split reads records whose first byte lies in
  * `(start, start+length]` — every non-head split discards through its
  * first newline (that prefix belongs to the predecessor) and reads one
  * record PAST its end when a record straddles the boundary, so every
  * record is owned by exactly one split with no coordination.
  *
  * Pushdown surfaces (all verified in plan text by JsonlSourceSpec):
  *  - `SupportsPushDownRequiredColumns` — only requested keys are
  *    converted (a 2-column projection of a 40-key feed parses 2 fields
  *    per record; Jackson still tokenizes the line, which is the honest
  *    floor for a text format — columnar pruning needs a columnar format);
  *  - `SupportsPushDownFilters` — comparison/IN/null-test predicates are
  *    absorbed into the scan and evaluated BEFORE row materialization,
  *    with exact Catalyst semantics (strings compare as unsigned UTF-8
  *    bytes = `UTF8String` binary order; numeric cross-type compares
  *    widen long→double exactly like the analyzer's cast). `Not` is NOT
  *    absorbed: collapsing SQL's three-valued logic to a boolean is only
  *    sound for the positive connectives (unknown⇒drop commutes with
  *    AND/OR but not NOT), so it stays a residual Filter node;
  *  - `SupportsPushDownLimit` — partially pushed: each reader stops after
  *    N surviving records (a `LIMIT n` over 100 TB opens splits lazily and
  *    each touched split emits ≤ n), Spark applies the global limit above;
  *  - `SupportsReportStatistics` — byte size scaled by the pruned-column
  *    fraction, so the CBO/AQE sees a 2-of-10-column scan as ~20% of the
  *    file bytes when sizing joins over this source;
  *  - `SupportsRuntimeFiltering` — a broadcast-join subquery result
  *    (DPP-style `In` on a join key) arrives at runtime and is admitted
  *    into the same reader-side predicate path as static pushdown, so a
  *    selective dim join skips fact rows before materialization
  *    (`RuntimeFilters:` on the BatchScan, spec-pinned end to end).
  *
  * Type system: BOOLEAN / LONG / DOUBLE / STRING (top-level keys only) —
  * the integer-coded interchange discipline of q94; type-mismatched or
  * missing values read NULL (PERMISSIVE). Schema inference samples the
  * head of the FIRST file (`inferLines`, default 200) — at corpus scale
  * inference is a full extra pass, so production readers pass `.schema`
  * and inference exists for exploration.
  *
  * The reader path is Hadoop-FS (`Path.getFileSystem`), so the same jar
  * reads file://, hdfs:// or s3a:// URIs; the driver's Hadoop conf rides
  * to executors via [[SerializableConfiguration]].
  */
class JsonlSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsonl"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonlSource.inferFromHead(
      JsonlSource.requirePath(options),
      math.max(1, options.getInt("inferLines", 200)))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    schema.fields.foreach { f =>
      require(JsonlSource.supported(f.dataType),
        s"graft-jsonl supports BOOLEAN/LONG/DOUBLE/STRING top-level fields; " +
          s"got ${f.name}: ${f.dataType.catalogString}")
    }
    new JsonlTable(schema)
  }
}

object JsonlSource {

  private[sources] def supported(dt: DataType): Boolean = dt match {
    case BooleanType | LongType | DoubleType | StringType => true
    case _ => false
  }

  private[sources] def requirePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-jsonl requires option(\"path\", ...) or load(path)")
    p
  }

  /** Data files under `path` (itself, or its direct children), sorted by
    * name for deterministic split numbering; hidden/metadata names
    * (`_SUCCESS`, `.crc`, checkpoint strays) are skipped — the same
    * convention as Spark's file index. */
  private[sources] def listDataFiles(path: String): Seq[FileStatus] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    val files =
      if (st.isDirectory) fs.listStatus(root).toSeq
      else Seq(st)
    files
      .filter(_.isFile)
      .filterNot { f =>
        val n = f.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .sortBy(_.getPath.toString)
  }

  /** Sampling schema inference over the head of the first data file.
    * Key order is first-appearance; per-key type is the least upper bound
    * of the observed value kinds in {BOOLEAN, LONG, DOUBLE, STRING}
    * (LONG∨DOUBLE = DOUBLE — JSON integers embed exactly; anything else
    * mixes to STRING, the printed form). Nulls carry no type evidence. */
  private[sources] def inferFromHead(path: String, lines: Int): StructType = {
    val files = listDataFiles(path)
    require(files.nonEmpty, s"graft-jsonl: no data files under $path")
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = files.head.getPath.getFileSystem(conf)
    val in = fs.open(files.head.getPath)
    val kinds = mutable.LinkedHashMap.empty[String, DataType]
    try {
      val rdr = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      var read = 0
      var line = rdr.readLine()
      while (line != null && read < lines) {
        if (line.trim.nonEmpty) {
          read += 1
          val node = mapper.readTree(line)
          node.properties().asScala.foreach { e =>
            val v = e.getValue
            val kind: Option[DataType] =
              if (v == null || v.isNull) None
              else if (v.isBoolean) Some(BooleanType)
              else if (v.isIntegralNumber) Some(LongType)
              else if (v.isNumber) Some(DoubleType)
              else if (v.isTextual) Some(StringType)
              else Some(StringType)
            kind.foreach { k =>
              val merged = kinds.get(e.getKey) match {
                case None => k
                case Some(prev) if prev == k => prev
                case Some(LongType) if k == DoubleType => DoubleType
                case Some(DoubleType) if k == LongType => DoubleType
                case Some(_) => StringType
              }
              kinds.update(e.getKey, merged)
            }
          }
        }
        line = rdr.readLine()
      }
    } finally in.close()
    StructType(kinds.toSeq.map { case (n, t) => StructField(n, t, nullable = true) })
  }
}

private[graft] class JsonlTable(tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "graft-jsonl"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(tableSchema, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new JsonlWriteBuilder(info)
}

private[sources] class JsonlScanBuilder(
    tableSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit {

  private val path = JsonlSource.requirePath(options)
  private val splitBytes =
    math.max(1L, options.getLong("maxSplitBytes", 128L * 1024 * 1024))
  private val maxFilesPerTrigger = options.getInt("maxFilesPerTrigger", 0)

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  /** A filter is absorbable iff every referenced column exists in the
    * table schema (with a supported type — guaranteed by getTable) and
    * its shape is one this scan evaluates with exact Catalyst semantics.
    * `Not` is excluded on three-valued-logic grounds (see class doc). */
  private def absorbable(f: Filter): Boolean = {
    val known = f.references.forall(r => tableSchema.fieldNames.contains(r))
    known && (f match {
      case _: sources.EqualTo | _: sources.EqualNullSafe => true
      case _: sources.GreaterThan | _: sources.GreaterThanOrEqual => true
      case _: sources.LessThan | _: sources.LessThanOrEqual => true
      case _: sources.In | _: sources.IsNull | _: sources.IsNotNull => true
      case _: sources.StringStartsWith | _: sources.StringEndsWith |
           _: sources.StringContains => true
      case _: sources.AlwaysTrue | _: sources.AlwaysFalse => true
      case sources.And(l, r) => absorbable(l) && absorbable(r)
      case sources.Or(l, r) => absorbable(l) && absorbable(r)
      case _ => false
    })
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (in, out) = filters.partition(absorbable)
    pushed = in
    out // residual: Spark keeps a Filter node above the scan for these
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed: Boolean = true // per-split limit; Spark applies the global one

  override def build(): Scan =
    new JsonlScan(tableSchema, required, pushed, limit, path, splitBytes, maxFilesPerTrigger)
}

private[sources] case class JsonlInputPartition(
    path: String,
    start: Long,
    length: Long,
    locations: Array[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

private[sources] class JsonlScan(
    tableSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    limit: Int,
    path: String,
    splitBytes: Long,
    maxFilesPerTrigger: Int = 0)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required

  override def description(): String = {
    val lim = if (limit >= 0) s", PushedLimit: LIMIT $limit" else ""
    s"graft-jsonl PushedFilters: ${pushed.mkString("[", ", ", "]")}$lim, " +
      s"ReadSchema: ${required.catalogString}"
  }

  // --- runtime (DPP-style) filtering --------------------------------------
  // A broadcast-join subquery result arrives AFTER planning as In(col,
  // values); the engine calls filter() before the Batch plans its
  // partitions, so admitted filters reach every reader exactly like
  // statically-pushed ones (row-level skip before materialization). A
  // filter the scan can't evaluate is simply ignored — the contract says
  // runtime filtering is best-effort; the join still applies it above.
  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns that survived pruning: the engine resolves these
    // against the scan OUTPUT (a pruned-away name fails analysis)
    required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter {
      case f: sources.In => f.references.forall(tableSchema.fieldNames.contains)
      case f: sources.EqualTo => f.references.forall(tableSchema.fieldNames.contains)
      case _ => false
    }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new JsonlMicroBatchStream(path, createReaderFactory(), maxFilesPerTrigger)

  /** Byte-range splits planned from driver-side file lengths alone, with
    * HDFS block hosts as locality hints — the part that makes a 100 TB
    * scan embarrassingly parallel. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    JsonlSource.listDataFiles(path).flatMap { f =>
      val fs = f.getPath.getFileSystem(conf)
      val len = f.getLen
      (0L until len by splitBytes).map { off =>
        val sl = math.min(splitBytes, len - off)
        val hosts =
          try fs.getFileBlockLocations(f, off, sl).flatMap(_.getHosts).distinct
          catch { case _: Exception => Array.empty[String] }
        JsonlInputPartition(f.getPath.toString, off, sl, hosts)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // parse set = output columns ∪ columns referenced only by absorbed
    // (static or runtime) filters — fully-pushed predicates may
    // reference pruned-away keys
    val effective = pushed ++ runtime
    val filterRefs = effective.flatMap(_.references).distinct
    val parseNames = (required.fieldNames ++ filterRefs).distinct
    val parseSchema = StructType(parseNames.flatMap(n => tableSchema.fields.find(_.name == n)))
    new JsonlReaderFactory(
      parseSchema, required, effective, limit,
      new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()))
  }

  override def estimateStatistics(): Statistics = {
    val total = JsonlSource.listDataFiles(path).map(_.getLen).sum
    val frac =
      if (tableSchema.isEmpty) 1.0
      else math.max(1, required.size).toDouble / tableSchema.size
    val size = math.max(1L, (total * frac).toLong)
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(size)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }
}

private[sources] class JsonlReaderFactory(
    parseSchema: StructType,
    outputSchema: StructType,
    pushed: Array[Filter],
    limit: Int,
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val jp = p.asInstanceOf[JsonlInputPartition]
    new JsonlPartitionReader(jp, parseSchema, outputSchema, pushed, limit, conf.value)
  }
}

/** One split's reader: discard-through-first-newline (non-head splits),
  * then read records while the record's first byte offset ≤ split end —
  * the ownership contract that loses and duplicates nothing across
  * splits (JsonlSourceSpec sweeps split sizes down to a few bytes). */
private[sources] class JsonlPartitionReader(
    part: JsonlInputPartition,
    parseSchema: StructType,
    outputSchema: StructType,
    pushed: Array[Filter],
    limit: Int,
    conf: org.apache.hadoop.conf.Configuration)
  extends PartitionReader[InternalRow] {

  private val hPath = new HPath(part.path)
  private val stream = hPath.getFileSystem(conf).open(hPath)
  stream.seek(part.start)
  private val in = new java.io.BufferedInputStream(stream, 64 * 1024)
  private var pos: Long = part.start
  private val end: Long = part.start + part.length

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val parseNames = parseSchema.fieldNames
  private val parseTypes = parseSchema.fields.map(_.dataType)
  private val outIdx = outputSchema.fieldNames.map(n => parseNames.indexOf(n))
  private val preds = pushed.map(JsonlPredicates.compile(_, parseNames))

  private var emitted = 0
  private var current: InternalRow = _

  if (part.start > 0) discardToNewline()

  /** Bytes of one record, '\n' consumed, trailing '\r' stripped; null at
    * EOF with nothing read. Advances `pos` by exact bytes consumed. */
  private def readLine(): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(256)
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { buf.write(b); pos += 1; b = in.read() }
    if (b == '\n') pos += 1
    val arr = buf.toByteArray
    if (arr.nonEmpty && arr(arr.length - 1) == '\r') java.util.Arrays.copyOf(arr, arr.length - 1)
    else arr
  }

  private def discardToNewline(): Unit = {
    var b = in.read()
    while (b != -1 && b != '\n') { pos += 1; b = in.read() }
    if (b == '\n') pos += 1
  }

  override def next(): Boolean = {
    while (true) {
      if (limit >= 0 && emitted >= limit) return false
      val lineStart = pos
      if (lineStart > end) return false
      val line = readLine()
      if (line == null) return false
      if (!line.forall(b => b == ' ' || b == '\t' || b == '\r')) {
        val vals = parse(line)
        if (vals != null && preds.forall(_(vals))) {
          current = materialize(vals)
          emitted += 1
          return true
        }
      }
    }
    false
  }

  /** PERMISSIVE conversion: missing key / JSON null / kind mismatch →
    * null slot; an unparseable line → whole-row null (all-null output),
    * matching the built-in reader's permissive default. */
  private def parse(line: Array[Byte]): Array[Any] = {
    val node =
      try mapper.readTree(line)
      catch { case _: Exception => null }
    val vals = new Array[Any](parseNames.length)
    if (node == null || !node.isObject) return vals
    var i = 0
    while (i < parseNames.length) {
      val v = node.get(parseNames(i))
      vals(i) =
        if (v == null || v.isNull) null
        else parseTypes(i) match {
          case BooleanType => if (v.isBoolean) java.lang.Boolean.valueOf(v.booleanValue) else null
          case LongType => if (v.isIntegralNumber) java.lang.Long.valueOf(v.longValue) else null
          case DoubleType => if (v.isNumber) java.lang.Double.valueOf(v.doubleValue) else null
          case StringType => if (v.isTextual) v.textValue else null
          case _ => null
        }
      i += 1
    }
    vals
  }

  private def materialize(vals: Array[Any]): InternalRow = {
    val out = new Array[Any](outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      out(i) = vals(outIdx(i)) match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
      i += 1
    }
    new GenericInternalRow(out)
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Compiled predicate evaluation for absorbed filters — exact Catalyst
  * semantics on the supported types (see [[JsonlSource]] scaladoc):
  * strings compare as unsigned UTF-8 bytes (= `UTF8String` binary
  * order), long/double cross-compares widen to double, any null operand
  * makes a comparison non-satisfying (unknown ⇒ row dropped), AND/OR
  * compose soundly under that collapse. */
private[sources] object JsonlPredicates {

  private def utf8Cmp(a: String, b: String): Int =
    // unsigned UTF-8 byte order, delegated to Spark's own comparator so
    // this path and ManifestLog.cmpTyped can never diverge
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: String, y: String) => Some(utf8Cmp(x, y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      Some(java.lang.Boolean.compare(x, y))
    case (x: java.lang.Number, y: java.lang.Number) =>
      if (x.isInstanceOf[java.lang.Double] || y.isInstanceOf[java.lang.Double])
        Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
      else Some(java.lang.Long.compare(x.longValue(), y.longValue()))
    case _ => None
  }

  def compile(f: Filter, names: Array[String]): Array[Any] => Boolean = {
    def slot(attr: String): Int = names.indexOf(attr)
    f match {
      case sources.EqualTo(a, v) =>
        val i = slot(a); vals => cmp(vals(i), v).contains(0)
      case sources.EqualNullSafe(a, v) =>
        val i = slot(a); vals =>
          if (vals(i) == null || v == null) vals(i) == null && v == null
          else cmp(vals(i), v).contains(0)
      case sources.GreaterThan(a, v) =>
        val i = slot(a); vals => cmp(vals(i), v).exists(_ > 0)
      case sources.GreaterThanOrEqual(a, v) =>
        val i = slot(a); vals => cmp(vals(i), v).exists(_ >= 0)
      case sources.LessThan(a, v) =>
        val i = slot(a); vals => cmp(vals(i), v).exists(_ < 0)
      case sources.LessThanOrEqual(a, v) =>
        val i = slot(a); vals => cmp(vals(i), v).exists(_ <= 0)
      case sources.In(a, vs) =>
        // hash-set membership for homogeneous lists: a DPP-pushed In can
        // carry thousands of keys, and a linear scan per ROW would turn
        // the runtime filter into the bottleneck it exists to remove
        val i = slot(a)
        if (vs.nonEmpty && vs.forall(_.isInstanceOf[java.lang.Long])) {
          val set = vs.map(_.asInstanceOf[java.lang.Long]).toSet
          vals => vals(i) match { case l: java.lang.Long => set.contains(l); case _ => false }
        } else if (vs.nonEmpty && vs.forall(_.isInstanceOf[String])) {
          val set = vs.map(_.asInstanceOf[String]).toSet
          // String.equals == UTF-8 byte equality, so set membership is
          // exactly the cmp(...)==0 semantics
          vals => vals(i) match { case t: String => set.contains(t); case _ => false }
        } else {
          vals => vals(i) != null && vs.exists(v => cmp(vals(i), v).contains(0))
        }
      case sources.IsNull(a) =>
        val i = slot(a); vals => vals(i) == null
      case sources.IsNotNull(a) =>
        val i = slot(a); vals => vals(i) != null
      // evaluated on UTF8String BYTES, not Java chars: Catalyst's
      // StartsWith/EndsWith/Contains compare UTF-8 byte sequences, and the
      // two diverge for ill-formed patterns (lone surrogates) — the absorbed
      // filter must admit exactly the rows the residual expression would
      case sources.StringStartsWith(a, p) =>
        val i = slot(a); val pat = UTF8String.fromString(p)
        vals => vals(i) match {
          case s: String => UTF8String.fromString(s).startsWith(pat); case _ => false }
      case sources.StringEndsWith(a, p) =>
        val i = slot(a); val pat = UTF8String.fromString(p)
        vals => vals(i) match {
          case s: String => UTF8String.fromString(s).endsWith(pat); case _ => false }
      case sources.StringContains(a, p) =>
        val i = slot(a); val pat = UTF8String.fromString(p)
        vals => vals(i) match {
          case s: String => UTF8String.fromString(s).contains(pat); case _ => false }
      case sources.And(l, r) =>
        val lf = compile(l, names); val rf = compile(r, names)
        vals => lf(vals) && rf(vals)
      case sources.Or(l, r) =>
        val lf = compile(l, names); val rf = compile(r, names)
        vals => lf(vals) || rf(vals)
      case _: sources.AlwaysTrue => _ => true
      case _: sources.AlwaysFalse => _ => false
      case other =>
        throw new IllegalStateException(s"unabsorbable filter reached the reader: $other")
    }
  }
}

// --- streaming read ---------------------------------------------------------

/** Stream offset = the set of data files already processed, JSON-encoded
  * sorted — the public FileStreamSource design (an offset must describe
  * progress durably and totally; for a file feed that IS the seen-file
  * set). At production scale the seen-set is compacted into the
  * checkpoint exactly like Spark's own file source log; here it rides
  * whole in each offset, the honest bounded-backlog form. */
private[graft] case class JsonlStreamOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    files.sorted.foreach(arr.add)
    m.writeValueAsString(arr)
  }
}

/** Micro-batch streaming read over a JSONL directory: each batch is the
  * set of files that appeared since the last committed offset (whole
  * files — the connector's batch sink publishes files ATOMICALLY via
  * rename, so a visible file is complete; that pairing is what makes
  * file-granular streaming exactly-once end to end). Files are admitted
  * in arrival order ([[currentFiles]]). Column pruning and
  * filter pushdown ride the same [[JsonlReaderFactory]] as the batch
  * scan. Admission control: `maxFilesPerTrigger`-style rate limiting via
  * [[ReadLimit.maxFiles]], and `Trigger.AvailableNow` pins the backlog
  * bound at query start ([[SupportsTriggerAvailableNow]]) so the run
  * terminates even while a writer keeps appending.
  */
private[graft] class JsonlMicroBatchStream(
    path: String,
    readerFactory: PartitionReaderFactory,
    maxFilesPerTrigger: Int = 0)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => StreamOffset, ReadLimit, ReadMaxFiles}

  @volatile private var availableNowBound: Option[Seq[String]] = None

  /** Visible data files in ARRIVAL order — oldest modification time
    * first, name on ties (Spark's file source admits the same way). Names
    * carry the writing job's random queryId, so name order alone would
    * admit separately written files in a different order on every run. */
  private def currentFiles(): Seq[String] =
    JsonlSource.listDataFiles(path)
      .sortBy(f => (f.getModificationTime, f.getPath.getName))
      .map(_.getPath.getName)

  override def initialOffset(): StreamOffset = JsonlStreamOffset(Seq.empty)

  override def deserializeOffset(json: String): StreamOffset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    JsonlStreamOffset((0 until node.size()).map(node.get(_).textValue()))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(currentFiles())

  /** `maxFilesPerTrigger` is a SOURCE-declared limit for a custom
    * connector (the engine passes this limit back into [[latestOffset]]
    * each micro-batch; only the built-in file source spells it as a
    * generic reader option). */
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val seen = start.asInstanceOf[JsonlStreamOffset].files.toSet
    val visible = availableNowBound.getOrElse(currentFiles())
    val fresh = visible.filterNot(seen)
    val admitted = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case c: CompositeReadLimit =>
        // AvailableNow can wrap the source's own limit in a composite;
        // honor the file cap if one is present
        c.getReadLimits.collectFirst { case mf: ReadMaxFiles => fresh.take(mf.maxFiles()) }
          .getOrElse(fresh)
      case _ => fresh
    }
    JsonlStreamOffset((seen ++ admitted).toSeq.sorted)
  }

  override def planInputPartitions(start: StreamOffset, end: StreamOffset): Array[InputPartition] = {
    val seen = start.asInstanceOf[JsonlStreamOffset].files.toSet
    val batch = end.asInstanceOf[JsonlStreamOffset].files.filterNot(seen).sorted
    val byName = JsonlSource.listDataFiles(path).map(f => f.getPath.getName -> f).toMap
    batch.flatMap(byName.get).map { f =>
      JsonlInputPartition(f.getPath.toString, 0L, f.getLen, Array.empty): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}

// --- write path -------------------------------------------------------------

/** The distributed sink commit protocol, in its canonical two-phase form
  * (the public FileCommitProtocol/DSv2 design):
  *
  *  1. **Task phase** — every write task streams its rows to a PRIVATE
  *     staged file `_staging-<queryId>/part-<partition>-<taskId>.jsonl`
  *     (taskId disambiguates speculative/retried attempts; the underscore
  *     prefix makes the whole staging dir invisible to readers, which
  *     filter `_`/`.` names). Task `commit()` returns the staged name as
  *     its [[WriterCommitMessage]]; task `abort()` deletes the file.
  *     Spark's commit coordinator (on by default) guarantees at most one
  *     attempt per partition commits.
  *  2. **Job phase** — ONLY the driver, holding every committed task's
  *     message, publishes: for truncate mode it first deletes the visible
  *     data files, then renames each staged file into the table root, and
  *     drops the staging dir. Job `abort()` just drops the staging dir —
  *     a failed or speculatively-duplicated write leaves the table
  *     byte-identical.
  *
  * Publication here is per-file rename, not one atomic pointer move — a
  * concurrent reader can observe a partially-published table. That is the
  * documented contract of directory-listing sinks (Spark's own file sink
  * included); the atomic upgrade is to publish the file list through a
  * manifest ([[graft.io.ManifestLog]]), which is exactly how the q96/q97
  * format closes the same gap for parquet.
  */
private[graft] class JsonlWriteBuilder(info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new Write {
    override def description(): String =
      s"graft-jsonl ${if (overwrite) "overwrite" else "append"}"
    override def toBatch: BatchWrite =
      new JsonlBatchWrite(
        JsonlSource.requirePath(info.options()), info.schema(), info.queryId(), overwrite,
        new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf()))
  }
}

private[graft] case class JsonlCommitMessage(stagedName: String, rows: Long)
  extends WriterCommitMessage

private[graft] class JsonlBatchWrite(
    path: String,
    schema: StructType,
    queryId: String,
    overwrite: Boolean,
    conf: SerializableConfiguration) extends BatchWrite {

  private def root = new HPath(path)
  private def stagingDir = new HPath(path, s"_staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(path, queryId, schema, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = root.getFileSystem(conf.value)
    if (overwrite && fs.exists(root)) {
      fs.listStatus(root).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.foreach(s => fs.delete(s.getPath, false))
    }
    fs.mkdirs(root)
    messages.collect { case m: JsonlCommitMessage => m }.foreach { m =>
      // final name carries the queryId so appends from distinct jobs
      // never collide
      val ok = fs.rename(
        new HPath(stagingDir, m.stagedName),
        new HPath(root, s"part-$queryId-${m.stagedName.stripPrefix("part-")}"))
      require(ok, s"failed to publish staged file ${m.stagedName}")
    }
    fs.delete(stagingDir, true): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = root.getFileSystem(conf.value)
    fs.delete(stagingDir, true): Unit
  }
}

private[graft] class JsonlWriterFactory(
    path: String,
    queryId: String,
    schema: StructType,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(path, queryId, schema, partitionId, taskId, conf.value)
}

/** One task's writer: rows stream straight to the staged file (no
  * buffering of the dataset — a task writing 10 GB holds one line at a
  * time). Null fields are omitted (the reader's missing-key ⇒ NULL rule
  * round-trips them). */
private[graft] class JsonlDataWriter(
    path: String,
    queryId: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    conf: org.apache.hadoop.conf.Configuration) extends DataWriter[InternalRow] {

  private val stagedName = s"part-$partitionId-$taskId.jsonl"
  private val staged = new HPath(new HPath(path, s"_staging-$queryId"), stagedName)
  private val fs = staged.getFileSystem(conf)
  private val out = new java.io.BufferedOutputStream(fs.create(staged, true), 64 * 1024)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val fields = schema.fields
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val o = mapper.createObjectNode()
    var i = 0
    while (i < fields.length) {
      if (!row.isNullAt(i)) fields(i).dataType match {
        case LongType => o.put(fields(i).name, row.getLong(i))
        case DoubleType => o.put(fields(i).name, row.getDouble(i))
        case BooleanType => o.put(fields(i).name, row.getBoolean(i))
        case StringType => o.put(fields(i).name, row.getUTF8String(i).toString)
        case dt => throw new IllegalStateException(s"unsupported sink type $dt")
      }
      i += 1
    }
    out.write(mapper.writeValueAsString(o).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.write('\n')
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    JsonlCommitMessage(stagedName, rows)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(staged, false): Unit
  }

  override def close(): Unit = out.close()
}
