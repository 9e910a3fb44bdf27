package graft.io

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Manifest-based table format — the engine's ONE commit protocol for
  * every "commit a new table state" surface (q44's streaming upsert,
  * q52's compaction, q68's time travel, q96–q111): versions are
  * MANIFESTS (lists of immutable, content-shared data files with
  * per-file column statistics), not self-contained directory copies.
  * This is the public Delta/Iceberg design reduced to its two
  * load-bearing ideas:
  *
  *  1. **Snapshot = manifest.** Data files under `base/data/` are written
  *     once and never mutated; a version is one JSON-lines file under
  *     `base/_manifests/<id>` naming its member files, published by an
  *     atomic tmp→rename (a crash leaves an invisible `.tmp` stray). A
  *     new version REUSES every untouched file by reference, so a
  *     file-granular rewrite of a 100 TB table touches only the affected
  *     files plus one metadata file — never a table copy.
  *  2. **Stats travel with the manifest.** Per-file min/max/null-count
  *     for declared columns are read from the parquet FOOTERS at commit
  *     time (metadata-only — the data pages are never scanned) and stored
  *     in the manifest, so a reader plans file skipping from ONE metadata
  *     file: [[pruneRange]] never opens a data file, unlike parquet
  *     row-group pushdown which must still open every footer. At 10⁶
  *     files that is the difference between one read and 10⁶ reads at
  *     plan time.
  *
  * Both q96 (stats-pruned scan) and q97 (file-granular copy-on-write
  * MERGE) ride this module; ManifestLogSpec pins soundness (skipped files
  * provably contain no matching rows), snapshot isolation, file reuse
  * across versions, and crash invisibility.
  *
  * Scale notes: discovery is O(versions) names + one manifest read;
  * manifests are O(files) JSON lines (a real format splits manifests and
  * checkpoints the version listing; neither is implemented here).
  * Statistics soundness leans on the parquet contract that footer
  * min/max are true bounds or absent; a file without usable stats is
  * always KEPT by pruning (conservative).
  */
object ManifestLog {

  /** Per-column statistics of one data file. `min`/`max` are canonical
    * string encodings compared under `kind` ("long" | "double" |
    * "string"); both None ⇔ the column is all-null in this file. */
  final case class ColStat(kind: String, min: Option[String], max: Option[String], nulls: Long)

  /** One immutable file of a snapshot: path relative to the table base,
    * exact row count and byte size (query-planning inputs),
    * declared-column stats, its role — `"data"`, `"delete"` for a
    * merge-on-read tombstone file (its columns name the key whose rows
    * are deleted; see [[commitDelete]]), or `"txn"` for a streaming
    * transaction marker (no file on disk: `path` = `txn/<queryId>`,
    * `rows` = the last committed epoch — the public Delta
    * SetTransaction design, what makes a streaming sink's epoch commit
    * idempotent; see [[commitStreamEpoch]]) — and its commit SEQUENCE
    * number (the public Iceberg ordering rule): a tombstone applies
    * only to data files with a STRICTLY SMALLER `seq`, which is what
    * lets one commit delete a key from old files and re-insert its new
    * version in the same snapshot (the hybrid MERGE, q104). Legacy
    * entries carry seq 0; a tombstone committed at version v carries
    * seq v, so the historical "tombstone applies to everything already
    * in the table" behavior is unchanged. */
  final case class ManifestEntry(path: String, rows: Long, bytes: Long,
      stats: Map[String, ColStat], kind: String = "data", seq: Long = 0L,
      ndv: Map[String, Long] = Map.empty)

  private def manifestsDir(base: String) = new File(base, "_manifests")
  private def dataDir(base: String) = new File(base, "data")

  def versions(base: String): Seq[Long] =
    Option(manifestsDir(base).listFiles()).getOrElse(Array.empty[File])
      .flatMap(f => f.getName.toLongOption).toSeq.sorted

  def latest(base: String): Option[Long] = versions(base).lastOption

  // --- manifest JSON (one entry per line, Jackson) ------------------------

  // ONE mapper for the module: ObjectMapper is thread-safe after
  // construction and expensive to build — a per-line def would construct
  // one per manifest entry parsed, defeating the one-metadata-read story
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def entryToJson(e: ManifestEntry): String = {
    val m = mapper
    val o = m.createObjectNode()
    o.put("path", e.path); o.put("rows", e.rows); o.put("bytes", e.bytes)
    if (e.kind != "data") o.put("kind", e.kind)
    if (e.seq != 0L) o.put("seq", e.seq)
    val st = o.putObject("stats")
    e.stats.toSeq.sortBy(_._1).foreach { case (c, s) =>
      val n = st.putObject(c)
      n.put("kind", s.kind)
      s.min.foreach(n.put("min", _))
      s.max.foreach(n.put("max", _))
      n.put("nulls", s.nulls)
    }
    if (e.ndv.nonEmpty) {
      val nv = o.putObject("ndv")
      e.ndv.toSeq.sortBy(_._1).foreach { case (c, v) => nv.put(c, v) }
    }
    m.writeValueAsString(o)
  }

  private def entryFromJson(line: String): ManifestEntry = {
    val n = mapper.readTree(line)
    val stats = Option(n.get("stats")).map { st =>
      st.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> ColStat(
          v.get("kind").textValue(),
          Option(v.get("min")).map(_.textValue()),
          Option(v.get("max")).map(_.textValue()),
          v.get("nulls").longValue())
      }.toMap
    }.getOrElse(Map.empty)
    val ndv = Option(n.get("ndv")).map { nv =>
      nv.properties().asScala.map(e => e.getKey -> e.getValue.longValue()).toMap
    }.getOrElse(Map.empty[String, Long])
    ManifestEntry(n.get("path").textValue(), n.get("rows").longValue(),
      n.get("bytes").longValue(), stats,
      Option(n.get("kind")).map(_.textValue()).getOrElse("data"),
      Option(n.get("seq")).map(_.longValue()).getOrElse(0L),
      ndv)
  }

  def manifest(base: String, id: Long): Seq[ManifestEntry] = {
    val f = new File(manifestsDir(base), id.toString)
    require(f.isFile, s"version $id is not committed under $base")
    Files.readAllLines(f.toPath).asScala.toSeq.filter(_.nonEmpty).map(entryFromJson)
  }

  /** Publish `entries` as the next version: write a writer-private
    * `.tmp`, then one put-if-absent hard-link — publish-last, with the
    * manifest itself as the commit marker.
    * Single-writer by contract ON THE VERSION ID: if another writer
    * published the same id first this FAILS LOUDLY (a POSIX
    * ATOMIC_MOVE rename would silently replace the committed manifest,
    * losing its files forever — [[Files.createLink]] instead fails
    * atomically when the name exists). Racing writers that want
    * retry-on-conflict semantics use [[commitEntriesAtomic]]. */
  def commitEntries(base: String, entries: Seq[ManifestEntry]): Long = {
    val id = latest(base).map(_ + 1L).getOrElse(0L)
    val dir = manifestsDir(base); dir.mkdirs()
    val tmp = new File(dir, s"$id.${java.util.UUID.randomUUID()}.tmp").toPath
    Files.write(tmp, entries.map(entryToJson).mkString("\n").getBytes("UTF-8"))
    try Files.createLink(new File(dir, id.toString).toPath, tmp)
    finally Files.deleteIfExists(tmp)
    id
  }

  /** Optimistic multi-writer commit. [[commitEntries]] is single-writer:
    * POSIX rename REPLACES silently, so two writers racing to the same
    * next id would silently lose one manifest. The multi-writer arbiter
    * here is atomic put-if-absent of the FULLY-WRITTEN manifest — the
    * content lands in a writer-private `.tmp`, then one hard-link
    * creation publishes it under the final version name ([[Files.createLink]]
    * fails atomically if the name exists → the loser re-reads the new
    * head and retries with its `entries` callback against the REAL
    * predecessor). This is the public Delta design (put-if-absent on the
    * log entry itself): no claim files, no holes, readers can never see
    * a half-written manifest, and a loser's retry always builds on the
    * published state it lost to. On object stores the same contract
    * comes from the store's conditional-put primitive. Content-level
    * conflict validation (abort when a concurrent commit touched the
    * same files) remains a policy layer above, as in the public formats. */
  def commitEntriesAtomic(base: String, maxAttempts: Int = 64)
      (entries: Seq[ManifestEntry] => Seq[ManifestEntry]): Long =
    commitEntriesAtomicV(base, maxAttempts)((prev, _) => entries(prev))

  /** [[commitEntriesAtomic]] with the VERSION BEING COMMITTED passed to
    * the callback alongside the real predecessor — for commits whose
    * entries embed the version (seq numbers, version-derived metadata).
    * Computing `next` OUTSIDE the arbiter and baking it into entries is
    * the race the round-13 advisory flagged on the streaming sink: a
    * loser's retry publishes at a HIGHER version while its entries keep
    * the stale estimate, breaking the Iceberg seq-ordering guarantee if
    * a tombstone ever commits concurrently. Inside the callback, `next`
    * is the version this attempt will really publish (recomputed on
    * every retry against the head it lost to). */
  def commitEntriesAtomicV(base: String, maxAttempts: Int = 64)
      (entries: (Seq[ManifestEntry], Long) => Seq[ManifestEntry]): Long = {
    val dir = manifestsDir(base); dir.mkdirs()
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val head = latest(base)
      val next = head.map(_ + 1L).getOrElse(0L)
      val prev = head.map(manifest(base, _)).getOrElse(Seq.empty)
      val tmp = new File(dir, s"$next.${java.util.UUID.randomUUID()}.tmp").toPath
      Files.write(tmp, entries(prev, next).map(entryToJson).mkString("\n").getBytes("UTF-8"))
      try {
        Files.createLink(new File(dir, next.toString).toPath, tmp)
        Files.deleteIfExists(tmp)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp) // lost the race — retry on the new head
      }
    }
    throw new IllegalStateException(
      s"commitEntriesAtomic: gave up after $maxAttempts contended attempts on $base")
  }

  // --- staging data files -------------------------------------------------

  /** Write `df` as immutable data files under `base/data/` (no manifest —
    * compose with [[commitEntries]]): stage through a scratch dir, move
    * each part file to `data/<tag>-<i>.parquet`, then read ONLY the
    * parquet footers for per-file stats on `statsCols`. `sortCol` range-
    * partitions + sorts so each file owns a contiguous value range —
    * what makes the stats selective (the q55 sorted-layout discipline).
    * Callers pass a fresh `tag` per commit (e.g. "v<next>") so staged
    * names never collide with a committed version's files. */
  def stage(
      spark: SparkSession,
      base: String,
      tag: String,
      df: DataFrame,
      statsCols: Seq[String],
      sortCol: Option[String] = None,
      files: Int = 1,
      ndvCols: Seq[String] = Nil): Seq[ManifestEntry] = {
    val scratch = TempLayouts.scratch("graft_manifest_stage_")
    val shaped = sortCol match {
      case Some(c) => df.repartitionByRange(files, col(c)).sortWithinPartitions(col(c))
      case None if files > 1 => df.repartition(files)
      case None => df.coalesce(1)
    }
    shaped.write.mode("overwrite").parquet(scratch)
    val dd = dataDir(base); dd.mkdirs()
    val parts = Option(new File(scratch).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val entries = parts.zipWithIndex.map { case (f, i) =>
      val dest = new File(dd, s"$tag-$i.parquet")
      Files.move(f.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      footerEntry(spark, base, dest, statsCols)
    }.toSeq
    TempLayouts.discard(scratch)
    attachNdv(spark, base, entries, ndvCols)
  }

  /** Per-file NDV (approx, rsd 2%) for `ndvCols`, harvested with ONE
    * grouped aggregation over the batch just staged — O(batch), never
    * O(table); opt-in so write paths that don't feed the CBO pay
    * nothing. These are the column statistics the cost-based optimizer
    * needs to reorder joins over manifest tables (surfaced through the
    * DSv2 Statistics interface by [[graft.sources.ManifestScan]]) —
    * the production discipline of maintaining stats AT INGEST instead
    * of a post-hoc ANALYZE scan (the q87 StatsCatalog move, now native
    * to the format). */
  private def attachNdv(spark: SparkSession, base: String,
      entries: Seq[ManifestEntry], ndvCols: Seq[String]): Seq[ManifestEntry] =
    if (ndvCols.isEmpty || entries.isEmpty) entries
    else {
      import org.apache.spark.sql.functions.{approx_count_distinct, input_file_name, max => smax, min => smin, sum => ssum, when}
      val paths = entries.map(e => new File(base, e.path).getPath)
      val df = spark.read.parquet(paths: _*)
      val kinds: Map[String, String] = df.schema.fields.map(f =>
        f.name -> (f.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType => "long"
          case org.apache.spark.sql.types.DoubleType => "double"
          case org.apache.spark.sql.types.StringType => "string"
          case _ => ""
        })).toMap
      // one O(batch) pass: per-file NDV plus EXACT nulls/min/max, so the
      // CBO sees complete count stats (its join estimation drops any
      // column missing a null count) and pruneRange gains sound bounds
      // for columns outside the footer statsCols
      val aggs = ndvCols.flatMap(c => Seq(
        approx_count_distinct(col(c), 0.02).as(s"${c}__ndv"),
        ssum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        smin(col(c)).as(s"${c}__min"),
        smax(col(c)).as(s"${c}__max")))
      val byFile = df
        .groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val name = r.getAs[String]("__file").split('/').last
          val ndv = ndvCols.map(c => c -> r.getAs[Long](s"${c}__ndv")).toMap
          val colStats = ndvCols.flatMap { c =>
            val kind = kinds.getOrElse(c, "")
            if (kind.isEmpty) None
            else {
              def enc(field: String): Option[String] =
                Option(r.getAs[Any](field)).map(_.toString)
              Some(c -> ColStat(kind, enc(s"${c}__min"), enc(s"${c}__max"),
                r.getAs[Long](s"${c}__nulls")))
            }
          }.toMap
          name -> (ndv, colStats)
        }.toMap
      entries.map { e =>
        byFile.get(e.path.split('/').last) match {
          case None => e
          case Some((ndv, colStats)) =>
            // footer-derived stats win where both exist (identical values
            // — both are exact; the footer walk came first)
            e.copy(ndv = ndv, stats = colStats ++ e.stats)
        }
      }
    }

  /** Stage + publish in one call; with a prior version, the new manifest
    * is append-semantics (previous entries carried over by reference).
    * Race-safe: the staged file names carry a writer-unique suffix and
    * publication goes through [[commitEntriesAtomic]], so a concurrent
    * appender costs a retry against the real head, never a lost commit. */
  def commitAppend(
      spark: SparkSession,
      base: String,
      df: DataFrame,
      statsCols: Seq[String],
      sortCol: Option[String] = None,
      files: Int = 1,
      ndvCols: Seq[String] = Nil): Long = {
    val next = latest(base).map(_ + 1L).getOrElse(0L)
    val tag = s"v$next-" + java.util.UUID.randomUUID().toString.take(8)
    // seq = the commit's version estimate: appended data outranks every
    // tombstone already in the table (a file added after a delete is
    // never subject to it — the Iceberg ordering rule)
    val staged = stage(spark, base, tag, df, statsCols, sortCol, files, ndvCols)
      .map(_.copy(seq = next))
    commitEntriesAtomic(base)(prev => prev ++ staged)
  }

  /** One file's manifest entry from its parquet FOOTER only. Row-group
    * stats merge to file stats (min of mins / max of maxes over chunks
    * with values); a column whose stats any row group omits is left
    * un-statted for the file → never pruned (conservative). */
  private def footerEntry(
      spark: SparkSession, base: String, file: File, statsCols: Seq[String]): ManifestEntry = {
    val conf = spark.sessionState.newHadoopConf()
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new HPath(file.getPath), conf))
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = statsCols.flatMap { c =>
        // one chunk per row group, or the column is unstatted for the file
        val perBlock = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == c))
        if (perBlock.exists(_.isEmpty) || perBlock.isEmpty) None
        else {
          val chunks = perBlock.flatten
          val kind = chunks.head.getPrimitiveType.getPrimitiveTypeName match {
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 |
                 org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 => "long"
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE => "double"
            case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY => "string"
            case _ => ""
          }
          val ss = chunks.map(ch => Option(ch.getStatistics))
          // every row group must carry recorded stats (parquet contract:
          // recorded min/max are true bounds); otherwise conservative
          if (kind.isEmpty || ss.exists(s => s.isEmpty || s.get.isEmpty)) None
          else {
            val st = ss.flatten
            val nulls = st.map(s => math.max(0L, s.getNumNulls)).sum
            val withVals = st.filter(_.hasNonNullValue)
            if (withVals.isEmpty) {
              // `hasNonNullValue == false` does NOT prove the row group is
              // all-null: parquet-mr drops binary min/max (but keeps
              // null_count) when values exceed its max-stats size. Only
              // commit the skippable all-null ColStat when the summed null
              // count provably equals the file's rows AND every row group
              // recorded a non-negative null count; otherwise leave the
              // column un-statted so pruneRange keeps the file.
              val provablyAllNull =
                st.forall(_.getNumNulls >= 0L) && st.map(_.getNumNulls).sum == rows
              if (provablyAllNull) Some(c -> ColStat(kind, None, None, nulls))
              else None
            } else {
              val mins: Seq[String] =
                withVals.map(s => encode(kind, s.genericGetMin.asInstanceOf[AnyRef]))
              val maxs: Seq[String] =
                withVals.map(s => encode(kind, s.genericGetMax.asInstanceOf[AnyRef]))
              Some(c -> ColStat(kind,
                Some(mins.reduce((a, b) => if (cmpTyped(kind, a, b) <= 0) a else b)),
                Some(maxs.reduce((a, b) => if (cmpTyped(kind, a, b) >= 0) a else b)),
                nulls))
            }
          }
        }
      }.toMap
      val rel = s"data/${file.getName}"
      ManifestEntry(rel, rows, file.length(), stats)
    } finally rdr.close()
  }

  private def encode(kind: String, v: AnyRef): String = v match {
    case b: org.apache.parquet.io.api.Binary =>
      new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8)
    case other => other.toString
  }

  /** Typed comparison of canonical stat encodings: numeric for
    * long/double, unsigned UTF-8 bytes for string (= `UTF8String` binary
    * order, matching both Spark and the parquet UTF8 sort order). */
  def cmpTyped(kind: String, a: String, b: String): Int = kind match {
    case "long" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ =>
      // unsigned UTF-8 byte order — Spark's own binary string comparator
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  /** File skipping for `col BETWEEN lo AND hi` (inclusive) over DATA
    * entries (callers split tombstones out first — [[snapshot]] does;
    * a tombstone entry passed here is kept conservatively): keep a file
    * iff it MIGHT hold a matching row — no usable stats (conservative) or
    * [min,max] intersects [lo,hi]. An all-null file is skippable: a range
    * predicate never matches NULL. Returns (keep, skip). Soundness is
    * spec-pinned: every skipped file provably holds no matching row. */
  def pruneRange(
      entries: Seq[ManifestEntry], column: String, lo: String, hi: String)
      : (Seq[ManifestEntry], Seq[ManifestEntry]) =
    entries.partition { e =>
      e.stats.get(column) match {
        case None => true
        case Some(ColStat(_, None, None, _)) => false
        case Some(ColStat(kind, Some(mn), Some(mx), _)) =>
          cmpTyped(kind, mx, lo) >= 0 && cmpTyped(kind, mn, hi) <= 0
        case Some(_) => true
      }
    }

  /** Bin-packing compaction (the OPTIMIZE verb): rewrite every data file
    * smaller than `smallBytes` into `targetFiles` sorted file(s), reuse
    * everything else by reference, publish as a new version. Logical
    * state is untouched (spec-pinned identical multiset); old snapshots
    * keep reading the small files they reference. Returns the new
    * version, or None when fewer than two files qualify (nothing to
    * pack). At 100 TB this is the steady-state maintenance job that
    * keeps scan task counts bounded after many small incremental
    * commits — cost O(small files), never O(table). */
  def optimize(
      spark: SparkSession,
      base: String,
      smallBytes: Long,
      statsCols: Seq[String],
      sortCol: Option[String] = None,
      targetFiles: Int = 1): Option[Long] = {
    val head = latest(base).getOrElse(return None)
    val m = manifest(base, head)
    // tombstones (and metadata kinds like txn markers) ride through
    // untouched: tombstones still apply to the packed files at read time
    // (folding them in is a q97-style CoW, not a pack); only DELETE
    // entries constrain the seq-uniformity requirement below
    val (dataEntries, rest) = m.partition(_.kind == "data")
    val tombs = rest.filter(_.kind == "delete")
    val (small, big) = dataEntries.partition(_.bytes < smallBytes)
    if (small.size < 2) return None
    // Sequence scoping makes cross-generation packing ambiguous when a
    // live tombstone outranks SOME inputs but not others (the packed
    // file gets one seq; rows from the newer input would wrongly fall
    // under the tombstone, or rows from the older one would escape it).
    // Fold tombstones first (a q97-style CoW) before packing such a
    // table; refuse here rather than corrupt.
    require(tombs.isEmpty || small.map(_.seq).distinct.size == 1,
      "optimize: cannot pack data files of different seq generations under " +
        "live tombstones — fold tombstones (CoW) first")
    val packedSeq = small.map(_.seq).min
    val tag = s"v${head + 1L}-opt-" + java.util.UUID.randomUUID().toString.take(8)
    // compaction must PRESERVE the commit-time column stats the CBO path
    // (q109) depends on: re-stage with the union of the inputs' ndv
    // columns, or an OPTIMIZE would silently strip distinctCount from
    // every column of the packed file (round-14 advisory)
    val ndvCols = small.flatMap(_.ndv.keys).distinct
    val packed = stage(spark, base, tag, read(spark, base, small),
      statsCols, sortCol, targetFiles, ndvCols).map(_.copy(seq = packedSeq))
    val smallPaths = small.map(_.path).toSet
    Some(commitEntriesAtomic(base) { prev =>
      // The packed file was rewritten FROM the `small` entries of the head
      // we read; if a racer removed any of them (its own pack or a CoW
      // merge), our rewrite is stale — abort rather than resurrect rows.
      // Concurrent APPENDs are fine: their files ride through untouched.
      val missing = smallPaths -- prev.filter(_.kind == "data").map(_.path).toSet
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"optimize: packed source files disappeared from head: ${missing.mkString(",")}")
      prev.filterNot(e => e.kind == "data" && smallPaths.contains(e.path)) ++ packed
    })
  }

  /** Garbage-collect ORPHAN data files: anything under `base/data/` that
    * no committed manifest references — the residue of a writer that
    * crashed between [[stage]] and [[commitEntries]]. Every referenced
    * file stays (historical snapshots remain readable — vacuuming old
    * VERSIONS is a retention policy above this primitive). Returns the
    * deleted file names. Safe concurrently with READERS (an orphan is by
    * definition unreachable from any manifest) but NOT with in-flight
    * WRITERS: a file staged but not yet committed is indistinguishable
    * from crash residue, so run vacuum only with no live writers — or,
    * as production formats do, only on files older than a retention
    * window that bounds any writer's stage→commit gap. */
  def vacuumOrphans(base: String): Seq[String] = {
    val referenced = versions(base).flatMap(manifest(base, _)).map(_.path).toSet
    Option(dataDir(base).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !referenced.contains(s"data/${f.getName}"))
      .map { f => Files.deleteIfExists(f.toPath); f.getName }.toSeq
  }

  /** Roll a table base back to version `v`: drop every manifest AFTER
    * `v`, then vacuum the data files only those dropped versions
    * referenced. Bench-loop hygiene for entries that exercise a WRITE
    * path against a shared cached base (q97/q101): resetting to the
    * pristine version before each run keeps the version chain, the data
    * dir, and the O(versions) listing cost bounded across arbitrarily
    * many invocations. NOT safe concurrently with a reader of a dropped
    * version — callers own the same single-writer window a vacuum does. */
  def resetToVersion(base: String, v: Long): Unit = {
    versions(base).filter(_ > v).foreach { id =>
      Files.deleteIfExists(new File(manifestsDir(base), id.toString).toPath): Unit
      Files.deleteIfExists(schemaFile(base, id).toPath): Unit
    }
    vacuumOrphans(base): Unit
  }

  /** Read exactly these manifest entries (a pruned or full snapshot). */
  def read(spark: SparkSession, base: String, entries: Seq[ManifestEntry]): DataFrame = {
    require(entries.nonEmpty, "empty file list — read at least one file")
    spark.read.parquet(entries.map(e => new File(base, e.path).getPath): _*)
  }

  /** Read one committed snapshot with merge-on-read semantics: data
    * files minus any tombstoned keys. The tombstone files' own columns
    * define the delete key (single or composite), so the reader needs no
    * side metadata; a table without deletes reads as a plain union. At
    * scale the tombstone side is tiny → the anti-join broadcasts, so a
    * delete costs NO data-file rewrite at write time and one broadcast
    * probe at read time; when tombstones accumulate, a q97-style CoW
    * rewrite (or [[optimize]]) folds them back in. */
  def snapshot(spark: SparkSession, base: String, id: Long): DataFrame = {
    val m = manifest(base, id)
    // explicit kind filters, NOT a two-way partition: txn markers (and
    // any future metadata kinds) are neither data nor tombstones
    val dels = m.filter(_.kind == "delete")
    val data = m.filter(_.kind == "data")
    applyTombstones(spark, base, data, dels)
  }

  /** Read `data` with `dels` applied under sequence scoping (Iceberg
    * ordering rule): a tombstone deletes only from data files with
    * seq < its own, so rows RE-INSERTED in the same or a later commit
    * survive. One plan branch per distinct data seq (bounded by the
    * number of mixed-generation commits in one snapshot, not by table
    * size), each anti-joined against only the tombstones that outrank
    * it; branches with no applicable tombstone read clean. */
  private def applyTombstones(spark: SparkSession, base: String,
      data: Seq[ManifestEntry], dels: Seq[ManifestEntry]): DataFrame =
    if (dels.isEmpty) read(spark, base, data)
    else {
      data.groupBy(_.seq).toSeq.sortBy(_._1).map { case (s, entries) =>
        val df = read(spark, base, entries)
        val applicable = dels.filter(_.seq > s)
        if (applicable.isEmpty) df
        else {
          val keys = read(spark, base, applicable).distinct()
          df.join(keys, keys.columns.toSeq, "left_anti")
        }
      }.reduce(_ unionByName _)
    }

  // --- incremental change reads (CDC-lite) ---------------------------------

  /** KEY-level changes between two committed versions, derived purely
    * from the MANIFEST DIFF — the incremental-consumption primitive
    * (public Delta/Iceberg incremental-read design, file-granular):
    * a downstream job that has processed `fromV` catches up to `toV`
    * by reading only the files the diff names, never rescanning the
    * table.
    *
    *   inserts = rows of data files present in `toV` but not `fromV`
    *             (appends, CoW rewrites' new halves), with `toV`'s
    *             tombstones applied under sequence scoping — a
    *             physically-carried-but-logically-deleted row is not an
    *             insert
    *   deletes = keys of data files REMOVED from the manifest (CoW
    *             rewrites' old halves) plus tombstone keys ADDED in the
    *             window — each restricted (semi-join) to keys that
    *             actually existed in `fromV`'s snapshot, so idempotent
    *             re-deletes and rewrite-reinserted keys don't produce
    *             phantom events.
    *
    * `keyCols` names the key; output is (change_type, key...). A key
    * both removed and re-added (a CoW UPDATE) emits one delete and one
    * insert — the standard file-diff CDC semantics when a change feed
    * wasn't captured at write time. Cost: O(changed files + tombstones),
    * never O(table). */
  def readChanges(spark: SparkSession, base: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    require(fromV <= toV, s"readChanges: fromV $fromV > toV $toV")
    val from = manifest(base, fromV)
    val to = manifest(base, toV)
    val fromPaths = from.map(_.path).toSet
    val toPaths = to.map(_.path).toSet
    val key = keyCols.map(col)
    val addedData = to.filter(e => e.kind == "data" && !fromPaths.contains(e.path))
    val removedData = from.filter(e => e.kind == "data" && !toPaths.contains(e.path))
    val addedTombs = to.filter(e => e.kind == "delete" && !fromPaths.contains(e.path))
    val toTombs = to.filter(_.kind == "delete")
    val baseSnap = snapshot(spark, base, fromV).select(key: _*)
    def keysOf(entries: Seq[ManifestEntry]): Option[DataFrame] =
      if (entries.isEmpty) None
      else Some(read(spark, base, entries).select(key: _*))
    val inserts =
      if (addedData.isEmpty) None
      else Some(applyTombstones(spark, base, addedData, toTombs).select(key: _*)
        .withColumn("change_type", lit("insert")))
    val deleteKeys = (keysOf(removedData).toSeq ++ keysOf(addedTombs).toSeq)
      .reduceOption(_ unionByName _)
      .map(_.distinct()
        // effective deletes only: the key must have existed at fromV
        .join(baseSnap.distinct(), keyCols, "left_semi")
        .withColumn("change_type", lit("delete")))
    (inserts.toSeq ++ deleteKeys.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(baseSnap.limit(0).withColumn("change_type", lit("")))
  }

  // --- schema evolution (column mapping) ----------------------------------

  /** One logical column of a version's schema: the name queries see, the
    * name stored in the parquet files, and the Spark DDL type. ADD
    * COLUMN = a new def whose physical name no old file contains (reads
    * null-fill it); RENAME = logical ≠ physical (metadata-only, zero
    * files touched) — the public Delta column-mapping / Iceberg field-id
    * design reduced to a name map. */
  final case class ColumnDef(logical: String, physical: String, ddl: String)

  private def schemaFile(base: String, id: Long) =
    new File(manifestsDir(base), s"$id.schema")

  /** Record version `id`'s logical schema (one JSON line per column).
    * Publish-last is not needed: the schema file is only consulted for
    * versions whose manifest already committed. */
  def commitSchema(base: String, id: Long, cols: Seq[ColumnDef]): Unit = {
    val o = cols.map { c =>
      val n = mapper.createObjectNode()
      n.put("logical", c.logical); n.put("physical", c.physical); n.put("ddl", c.ddl)
      mapper.writeValueAsString(n)
    }
    Files.write(schemaFile(base, id).toPath, o.mkString("\n").getBytes("UTF-8")): Unit
  }

  /** The schema in force at version `id`: the nearest schema commit at
    * or before it (a version without its own schema file inherits its
    * ancestor's — schema changes are rare, snapshots are not). None if
    * the table predates schema tracking entirely. */
  def schemaOf(base: String, id: Long): Option[Seq[ColumnDef]] = {
    val committed = versions(base).filter(_ <= id)
      .filter(v => schemaFile(base, v).isFile)
    committed.lastOption.map { v =>
      Files.readAllLines(schemaFile(base, v).toPath).asScala.toSeq
        .filter(_.nonEmpty).map { line =>
          val n = mapper.readTree(line)
          ColumnDef(n.get("logical").textValue(), n.get("physical").textValue(),
            n.get("ddl").textValue())
        }
    }
  }

  /** Snapshot under the version's LOGICAL schema: every data file is
    * read with the full physical schema (a file written before an ADD
    * COLUMN simply lacks that physical column — Spark null-fills it,
    * which IS the add-column contract), then projected to logical
    * names (the rename contract, zero data files touched). Falls back
    * to [[snapshot]] when the version has no schema commit. Tombstones
    * compose as in [[snapshot]] once their key columns are mapped;
    * kept out of scope here (require) until an entry needs both. */
  def snapshotEvolved(spark: SparkSession, base: String, id: Long): DataFrame =
    schemaOf(base, id) match {
      case None => snapshot(spark, base, id)
      case Some(cols) =>
        val m = manifest(base, id)
        // explicit kind filters as in [[snapshot]] — a two-way partition
        // would land a streaming txn marker in `data` and hand its fake
        // path txn/<queryId> to the parquet reader (round-14 advisory:
        // the snapshot() fix had this twin)
        val dels = m.filter(_.kind == "delete")
        val data = m.filter(_.kind == "data")
        require(dels.isEmpty,
          "snapshotEvolved: tombstones under an evolved schema need their key " +
            "columns mapped — fold them (CoW) before evolving, or extend here")
        val physical = org.apache.spark.sql.types.StructType.fromDDL(
          cols.map(c => s"`${c.physical}` ${c.ddl}").mkString(", "))
        val paths = data.map(e => new HPath(base, e.path).toString)
        spark.read.schema(physical).parquet(paths: _*)
          .select(cols.map(c => col(c.physical).as(c.logical)): _*)
    }

  // --- streaming epoch commits (exactly-once sink support) -----------------

  /** One data file's manifest entry from its parquet footer — the
    * [[footerEntry]] walk exposed for writers that stage files OUTSIDE
    * [[stage]] (the streaming sink's task writers land parquet directly;
    * its driver-side epoch commit stats them here). Metadata-only: the
    * data pages are never read. */
  def statFile(spark: SparkSession, base: String, file: File,
      statsCols: Seq[String]): ManifestEntry =
    footerEntry(spark, base, file, statsCols)

  private def txnPath(queryId: String) = s"txn/$queryId"

  /** The last epoch a streaming query committed to this table, read from
    * the head manifest's txn marker (None = never committed, or the
    * marker was superseded by a full rewrite). */
  def lastStreamEpoch(base: String, queryId: String): Option[Long] =
    latest(base).flatMap { v =>
      manifest(base, v)
        .find(e => e.kind == "txn" && e.path == txnPath(queryId))
        .map(_.rows)
    }

  private class EpochAlreadyCommitted extends RuntimeException

  /** Exactly-once streaming epoch commit (the public Delta
    * txn/SetTransaction design): publish `entries(prev)` as the next
    * version IF epoch `epochId` of `queryId` has not already committed;
    * otherwise do NOTHING and return None. `prev` is the real head's
    * entries minus this query's own marker, so the callback decides the
    * epoch's table semantics: an append sink returns `prev ++ staged`
    * (ManifestStreamSink), a keyed upsert returns only its re-merged
    * key table (q44 — a full replace). The dedup marker rides IN the
    * manifest itself (kind "txn", rows = epochId, replacing the query's
    * previous marker), so marker and data commit in ONE atomic
    * put-if-absent — there is no crash window where the data landed but
    * the marker didn't. A sink that re-runs epoch k after a driver crash
    * (Spark replays the last un-checkpointed micro-batch) hits the
    * marker and no-ops: re-commit of epoch k is idempotent, which is
    * what upgrades at-least-once replay to exactly-once table state.
    * The recheck runs INSIDE the atomic-retry arbiter against the real
    * head, so the guarantee holds even against a concurrent committer
    * of the same queryId (Spark runs one driver per query — this is
    * belt-and-braces, not a supported topology). The `seq` of every data
    * entry not already in `prev` is assigned HERE, inside the arbiter,
    * to the version each attempt really publishes — a caller-side
    * latest+1 estimate would go stale when a concurrent commit wins the
    * race, leaving streamed files with a seq BELOW their committed
    * version and wrongly subject to a concurrently-committed tombstone
    * (round-14 advisory). */
  def commitStreamEpoch(base: String, queryId: String, epochId: Long)
      (entries: Seq[ManifestEntry] => Seq[ManifestEntry]): Option[Long] =
    try {
      Some(commitEntriesAtomicV(base) { (prev, next) =>
        val (own, rest) = prev.partition(e => e.kind == "txn" && e.path == txnPath(queryId))
        if (own.exists(_.rows >= epochId)) throw new EpochAlreadyCommitted
        val txn = ManifestEntry(txnPath(queryId), epochId, 0L, Map.empty,
          kind = "txn", seq = 0L)
        val carried = rest.map(_.path).toSet
        entries(rest).map(e =>
          if (e.kind == "data" && !carried.contains(e.path)) e.copy(seq = next) else e) :+ txn
      })
    } catch { case _: EpochAlreadyCommitted => None }

  /** Merge-on-read DELETE (the deletion-vector strategy, public
    * Iceberg/Delta design): commit a new version whose only novelty is a
    * tombstone file holding the deleted KEYS — O(deleted keys) write
    * cost, zero data files touched (q97's CoW merge is the
    * write-amplified/read-cheap dual; a format needs both). `keysDf`'s
    * column set IS the delete key. Always composes with the CURRENT
    * head (a delete against an older snapshot would have to rebase the
    * table and silently drop later commits — callers needing a pinned
    * replay compose `manifest(base, v) ++ tombstone` with
    * [[commitEntries]] explicitly, as q101 does). Returns the new
    * version id. */
  def commitDelete(spark: SparkSession, base: String, keysDf: DataFrame,
      statsCols: Seq[String] = Seq.empty): Long = {
    val head = latest(base).getOrElse(
      throw new IllegalStateException(s"no committed version under $base"))
    val tag = s"v${head + 1L}-del-" + java.util.UUID.randomUUID().toString.take(8)
    val tomb = stage(spark, base, tag, keysDf.distinct(), statsCols)
      .map(_.copy(kind = "delete", seq = head + 1L))
    // a tombstone is independent of the predecessor's content, so the
    // atomic retry callback composes it against whatever head wins
    commitEntriesAtomic(base)(prev => prev ++ tomb)
  }
}
