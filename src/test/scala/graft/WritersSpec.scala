package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Writers

/** Sink-layout tests: partition pruning and bucketed shuffle-free joins
  * actually materialize in the plans. */
class WritersSpec extends SparkSpecBase {
  import testImplicits._

  /** Sum of rows OUTPUT by the plan's file scans after running `df` —
    * the skipping metric both z-order tests compare: parquet min/max
    * stats drop whole row groups, so a clustered layout's scan emits
    * far fewer rows than the filter's survivors would suggest. */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    df.collect()
    scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  test("quarter-partitioned wide table prunes partitions for sliced reads") {
    val dir = Files.createTempDirectory("graft_wide").toString
    val wide = Seq(
      ("Q1", "US", "AAA", "BUY"), ("Q2", "DE", "BBB", "SELL"),
      ("Q3", "FR", "CCC", "BUY"), ("Q4", "JP", "DDD", "SELL"))
      .toDF("quarter", "country_name", "symbol", "transaction_type")
    Writers.wideTablePartitioned(wide, dir)

    val back = spark.read.parquet(dir)
    assert(back.count() === 4)
    val sliced = back.filter(col("quarter") === "Q2")
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(quarter"),
      s"no partition pruning:\n$plan")
    assert(sliced.collect().map(_.getAs[String]("symbol")).toSeq === Seq("BBB"))
  }

  test("q38 layout query prunes ship-quarter partitions at plan time") {
    val q38 = graft.queries.Catalog.queries("q38_partition_pruned_scan")(spark, sf0001)
    val plan = q38.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_quarter")
      && plan.contains("ship_quarter#") && plan.contains("= 1995Q2"),
      s"one-quarter slice is not partition-pruned:\n$plan")
    // layout must never change results: compare against the raw table
    val raw = graft.io.Tables(spark, sf0001).lineitem
      .where(year(col("l_shipdate")) === 1995 && quarter(col("l_shipdate")) === 2)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q38.collect().map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(got === raw)
  }

  test("ORC roundtrip preserves the multiset and pushes filters to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val df = (1L to 200L).map(i => (i, s"s$i", i * 1.5)).toDF("id", "s", "v")
    Writers.orc(df, dir)
    val back = spark.read.orc(dir)
    assert(back.count() === 200)
    val filtered = back.filter(col("id") === 42L).select("s")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,42)"),
      s"ORC filter not pushed:\n$plan")
    assert(filtered.collect().map(_.getString(0)).toSeq === Seq("s42"))
  }

  test("JSONL roundtrip with explicit schema skips inference and preserves values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val df = (1L to 100L).map(i => (i, s"doc $i", i % 5))
      .toDF("doc_id", "text", "label")
    Writers.jsonl(df, dir)
    val back = spark.read.schema(df.schema).json(dir)
    // JSON fields come back nullable; names and types must match exactly
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    val a = df.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("q48 dynamic partition overwrite rewrites ONLY the late-data day") {
    import graft.etl.IncrementalEtl
    val out = Files.createTempDirectory("graft_incr_spec_").toString
    try {
      IncrementalEtl.fullLoad(spark, sf0001, out)
      def layout(): Map[String, Set[String]] =
        new java.io.File(out).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
          .map(d => d.getName -> d.listFiles().map(_.getName)
            .filter(_.endsWith(".parquet")).toSet)
          .toMap
      val before = layout()
      assert(before.size > 1, "need multiple day partitions to prove isolation")
      IncrementalEtl.latePatch(spark, sf0001, out)
      val after = layout()
      val patchedDay = before.keys.max // partitions sort lexicographically by date
      assert(after.keySet === before.keySet)
      // every other day's files are bit-for-bit untouched (same part files)
      (before.keySet - patchedDay).foreach { day =>
        assert(after(day) === before(day), s"partition $day was rewritten")
      }
      // the late day WAS rewritten (fresh task UUIDs in the part names)
      assert(after(patchedDay).intersect(before(patchedDay)).isEmpty,
        s"late-day partition $patchedDay kept stale files")

      // and the values: patched day = original counts + the mod-13 replay,
      // recomputed independently from the raw events table
      val ev = graft.io.Tables(spark, sf0001).events
        .select(to_date(col("ts")).as("d"), col("event_type"), col("event_id"))
      val maxD = ev.agg(max(col("d"))).head().getDate(0).toString
      val expected = ev.filter(col("d") === lit(maxD))
        .groupBy("event_type")
        .agg((count(lit(1)) +
          count(when(col("event_id") % 13 === 0, 1))).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
      val got = IncrementalEtl.finalTable(spark, out)
        .filter(col("event_date") === maxD)
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("cnt")).toMap
      assert(got === expected)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("q68 time travel: v0 stays readable after v1 commits; delta isolates the late day") {
    import graft.etl.IncrementalEtl
    import graft.io.ManifestLog
    val (diff, out) = IncrementalEtl.snapshotDiff(spark, sf0001)
    val rows = diff.collect()
    // both versions stay committed, and v1 (a full replace) shares no
    // file with v0 — committing v1 destroyed nothing
    assert(ManifestLog.versions(out) === Seq(0L, 1L))
    val (files0, files1) = (ManifestLog.manifest(out, 0L), ManifestLog.manifest(out, 1L))
    assert(files0.nonEmpty && files1.nonEmpty)
    assert(files0.map(_.path).toSet.intersect(files1.map(_.path).toSet).isEmpty)
    assert(files0.forall(e => new java.io.File(out, e.path).isFile))
    // v0 re-read AFTER the v1 commit equals the plain daily counts
    val v0 = ManifestLog.snapshot(spark, out, 0L)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getAs[Long]("cnt"))
      .toMap
    val want = graft.io.Tables(spark, sf0001).events
      .groupBy(to_date(col("ts")).as("d"), col("event_type")).count()
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getAs[Long]("count"))
      .toMap
    assert(v0 === want, "v0 snapshot must reproduce the original report")
    // the delta is nonzero ONLY on the latest day, and equals the replay size
    val maxDay = rows.map(_.getAs[String]("event_date")).max
    val ev = graft.io.Tables(spark, sf0001).events
      .select(to_date(col("ts")).as("d"), col("event_type"), col("event_id"))
    val replay = ev.filter(col("d") === lit(java.sql.Date.valueOf(maxDay))
        && col("event_id") % 13 === 0)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val d = r.getAs[String]("event_date")
      val delta = r.getAs[Long]("delta")
      assert(r.getAs[Long]("cnt_v1") - r.getAs[Long]("cnt_v0") === delta)
      if (d == maxDay)
        assert(delta === replay.getOrElse(r.getAs[String]("event_type"), 0L),
          s"$d ${r.getAs[String]("event_type")} delta")
      else assert(delta === 0L, s"day $d must be identical across versions")
    }
    assert(rows.exists(_.getAs[Long]("delta") > 0L), "the diff must be non-trivial")
  }

  test("q52 compaction: one file per day partition, contents bit-identical") {
    import graft.etl.IncrementalEtl
    import graft.io.ManifestLog
    val (table, out) = IncrementalEtl.compactSmallFiles(spark, sf0001)
    assert(ManifestLog.versions(out) === Seq(0L, 1L))
    // days present in a version, as epoch days (the stats encoding of DATE)
    def days(v: Long): Set[Long] =
      ManifestLog.snapshot(spark, out, v)
        .select(datediff(col("event_date"), lit("1970-01-01")).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
    // per day, the number of files whose event_date [min, max] stats cover it
    def filesPerDay(v: Long): Map[Long, Int] = {
      val spans = ManifestLog.manifest(out, v).filter(_.kind == "data").map { e =>
        val s = e.stats("event_date")
        (s.min.get.toLong, s.max.get.toLong)
      }
      days(v).map(d => d -> spans.count { case (lo, hi) => lo <= d && d <= hi }).toMap
    }
    val before = filesPerDay(0L)
    val after = filesPerDay(1L)
    assert(before.size > 1, "need multiple days")
    assert(after.keySet === before.keySet, "compaction must keep every day")
    // ingest layout really was fragmented; compaction really collapsed it
    assert(before.values.sum > before.size,
      s"ingest produced no small files to compact: $before")
    assert(before.values.max > 1, before.toString)
    after.foreach { case (day, n) => assert(n === 1, s"day $day spans $n files") }
    // identity: the compacted table equals the raw projection, row for row
    val want = graft.io.Tables(spark, sf0001).events
      .select(col("event_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("event_date"),
        col("event_type"), floor(col("value") * 1e6).cast("long").as("value_micros"))
      .orderBy(col("event_id"))
      .collect().map(_.toSeq)
    assert(table.collect().map(_.toSeq).toSeq === want.toSeq)
  }

  test("q55 sorted layout: shipdate slice reads far fewer rows than a shuffled layout") {
    import graft.ops.CoreQueries
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
    }
    val total = graft.io.Tables(spark, sf0001).lineitem.count()
    val sorted = CoreQueries.sortedLayoutSlice(spark, sf0001)
    val sortedRows = scanRows(sorted)
    // control: same rows, same filter, but written in hash-shuffled
    // order — min/max stats cover the whole date range per row group,
    // so nothing skips
    val shuffledDir = Files.createTempDirectory("graft_li_shuffled_").toString
    try {
      graft.io.Tables(spark, sf0001).lineitem
        .withColumn("ship_date", to_date(col("l_shipdate")))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(shuffledDir)
      val shuffled = spark.read.parquet(shuffledDir)
        .where(col("ship_date") >= lit("1995-06-01").cast("date") &&
          col("ship_date") < lit("1995-06-08").cast("date"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"))
      val shuffledRows = scanRows(shuffled)
      // the shuffled layout reads essentially everything; the sorted one
      // skips the row groups outside the week
      assert(shuffledRows > total / 2, s"control layout unexpectedly skipped: $shuffledRows of $total")
      assert(sortedRows < shuffledRows / 4,
        s"sorted layout read $sortedRows rows vs shuffled $shuffledRows — no skipping evidence")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(shuffledDir))
  }

  test("mortonZ equals a driver-side bit interleave") {
    import graft.io.WarehouseLayout
    def ref(a: Long, b: Long): Long = (0 until 32).map(i =>
      (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0xFFFFFFFFL, 0xFFFFFFFFL)) ++
      Seq.fill(200)((rnd.nextLong().abs & 0xFFFFFFFFL, rnd.nextLong().abs & 0xFFFFFFFFL))
    val got = cases.toDF("a", "b")
      .select(WarehouseLayout.mortonZ(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    cases.zip(got).foreach { case ((a, b), z) =>
      assert(z === ref(a, b), s"mortonZ($a, $b)")
    }
  }

  test("q58 z-order layout: skips on BOTH key dims where a single-key sort serves only its own") {
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = scanOutputRows(df)
    val raw = graft.io.Tables(spark, sf0001).lineitem
    val total = raw.count()
    val (pLo, pHi) = (40L, 80L)   // the q58 slice
    val (sLo, sHi) = (3L, 4L)     // a supplier slice of similar selectivity
    def slice(df: org.apache.spark.sql.DataFrame, c: String, lo: Long, hi: Long) =
      df.where(col(c).between(lo, hi)).agg(count(lit(1)).as("cnt"))

    val zdir = graft.io.WarehouseLayout.lineitemZOrdered(spark, sf0001)
    val z = spark.read.parquet(zdir)
    val zP = scanRows(slice(z, "l_partkey", pLo, pHi))
    val zS = scanRows(slice(z, "l_suppkey", sLo, sHi))

    // control: same rows sorted by partkey ONLY — perfect on partkey,
    // stats-useless on suppkey (every row group spans all suppliers)
    val controlDir = Files.createTempDirectory("graft_li_psorted_").toString
    try {
      raw.repartitionByRange(32, col("l_partkey"))
        .sortWithinPartitions(col("l_partkey"))
        .write.mode("overwrite").parquet(controlDir)
      val c = spark.read.parquet(controlDir)
      val cP = scanRows(slice(c, "l_partkey", pLo, pHi))
      val cS = scanRows(slice(c, "l_suppkey", sLo, sHi))
      info(s"total=$total zP=$zP zS=$zS cP=$cP cS=$cS")
      assert(cS > total / 2,
        s"single-key control unexpectedly skipped on suppkey: $cS of $total")
      assert(zP < total / 2, s"z layout no partkey skipping: $zP of $total")
      assert(zS < total / 2, s"z layout no suppkey skipping: $zS of $total")
      assert(zS < cS / 2,
        s"z layout not better than single-key sort on the second dim: $zS vs $cS")
      // results are layout-invariant (the identity the q58 oracle checks)
      assert(slice(z, "l_partkey", pLo, pHi).head.getLong(0) ===
        slice(raw, "l_partkey", pLo, pHi).head.getLong(0))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(controlDir))
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    // external tables under a run-scoped scratch dir: nothing lands in
    // the default warehouse dir of the checkout
    val dir = graft.io.TempLayouts.scratch("graft_bucketed_")
    val fact = (1L to 1000L).map(i => (i % 50, s"v$i")).toDF("k", "v")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "d")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Writers.bucketedExternalTable(fact, "graft_fact_b", s"$dir/fact", "k", 8)
      Writers.bucketedExternalTable(dim, "graft_dim_b", s"$dir/dim", "k", 8)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_fact_b")
        .join(spark.table("graft_dim_b"), Seq("k"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() === 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS graft_fact_b")
      spark.sql("DROP TABLE IF EXISTS graft_dim_b")
      graft.io.TempLayouts.discard(dir)
    }
  }

  test("q62 equi-depth z-order: bounded bucket mass under skew + two-dim skipping") {
    import graft.io.WarehouseLayout
    val ev = graft.io.Tables(spark, sf0001).events
    val total = ev.count()
    val nb = 64

    // 1) the occupancy claim: the skewed value distribution overloads
    // equi-width buckets (~6× ideal here) while equi-depth stays ~ideal
    // by construction — the bounded-z-cell-mass property q62 exists for.
    val bounds = ev.stat.approxQuantile("value",
      (1 until nb).map(_.toDouble / nb).toArray, 0.001).distinct.sorted
    val ideal = total.toDouble / (bounds.length + 1)
    val depthMax = ev
      .groupBy(WarehouseLayout.equiDepthBucket(col("value"), bounds).as("bk"))
      .count().agg(max(col("count"))).head().getLong(0)
    val mm = ev.agg(min(col("value")), max(col("value"))).head()
    val (vLo, vHi) = (mm.getDouble(0), mm.getDouble(1))
    val widthMax = ev
      .groupBy(least(lit(nb - 1),
        floor((col("value") - vLo) / ((vHi - vLo) / nb)).cast("int")).as("bk"))
      .count().agg(max(col("count"))).head().getLong(0)
    info(s"ideal=$ideal depthMax=$depthMax widthMax=$widthMax")
    assert(depthMax <= 2 * ideal,
      s"equi-depth bucket overloaded: $depthMax vs ideal $ideal")
    assert(widthMax >= 3 * ideal,
      s"data not skewed enough to demonstrate anything: $widthMax vs ideal $ideal")
    assert(widthMax >= 2 * depthMax,
      s"equi-depth no better than equi-width: $depthMax vs $widthMax")

    // 2) the skipping claim (q58's measurement on this layout): row-group
    // stats serve BOTH dimensions from one z-ordered layout
    val z = spark.read.parquet(WarehouseLayout.eventsZOrderedEquiDepth(spark, sf0001))
    // literal types must match the column types — a double literal on the
    // bigint user_id would wrap the column in a cast and kill pushdown
    def cntSlice(df: org.apache.spark.sql.DataFrame, c: String, lo: Any, hi: Any) =
      df.where(col(c).between(lo, hi)).agg(count(lit(1)).as("cnt"))
    val zV = scanOutputRows(cntSlice(z, "value", 30.0, 60.0))
    val zU = scanOutputRows(cntSlice(z, "user_id", 3L, 4L))
    info(s"total=$total zV=$zV zU=$zU")
    assert(zV < total / 2, s"no value-dim skipping: $zV of $total")
    assert(zU < total / 2, s"no user-dim skipping: $zU of $total")

    // 3) layout invariance (the identity the q62 oracle hash-checks)
    assert(cntSlice(z, "value", 30.0, 60.0).head().getLong(0) ===
      cntSlice(ev, "value", 30.0, 60.0).head().getLong(0))
  }

  test("compaction width comes from the core grant, not the first session's conf") {
    // The compaction memo is JVM-wide; a NARROW session warming it first
    // must not pin every later session's scan parallelism (the r8
    // first-session-sticky finding) — but the width is the SCHEDULER's
    // core grant (defaultParallelism), not the JVM's core count, so an
    // 8-core `local[8]` bench doesn't plan 32-way compaction (r15).
    // Fresh path → fresh memo entry.
    import testImplicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-width-").toString
    val src = s"$dir/t.parquet"
    // one-file, one-row-group input comfortably above CompactMinBytes
    (0L until 20000L).map(i => (i, s"row-$i-padding-padding-padding"))
      .toDF("id", "s").coalesce(1).write.parquet(src)
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.shuffle.partitions", "4")
    val first = graft.io.Tables.compacted(narrow, src)
    val grant = spark.sparkContext.defaultParallelism
    assert(first.rdd.getNumPartitions >= math.min(grant, 8),
      s"narrow session pinned the compacted width: ${first.rdd.getNumPartitions}")
    // a later full-width session served from the same memo sees the
    // core-derived split count too (and the rows are intact)
    val later = graft.io.Tables.compacted(spark, src)
    assert(later.rdd.getNumPartitions === first.rdd.getNumPartitions)
    assert(later.count() === 20000L)
  }

  test("q94: JSONL schema inference recovers the explicit schema losslessly") {
    // exploration path vs production path: sampling inference over the
    // q94 layout must land on the exact types the explicit schema
    // declares (longs as bigint, strings as string), and the inferred
    // read must agree row-for-row
    val layout = graft.io.TempLayouts.cached(
      "q94_jsonl#" + new java.io.File(sf0001).getCanonicalPath,
      "graft_jsonl_") { out =>
      graft.io.Tables(spark, sf0001).events
        .select(col("event_id"), col("user_id"), col("event_type"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("ts_us"),
          floor(col("value") * 1e6).cast("long").as("value_micros"))
        .write.mode("overwrite").json(out)
    }
    val inferred = spark.read.json(layout)
    val expected = Map("event_id" -> "bigint", "user_id" -> "bigint",
      "event_type" -> "string", "ts_us" -> "bigint", "value_micros" -> "bigint")
    inferred.schema.fields.foreach { f =>
      assert(expected(f.name) === f.dataType.simpleString,
        s"inferred ${f.name} as ${f.dataType.simpleString}")
    }
    val explicitRead = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, " +
        "ts_us LONG, value_micros LONG")
      .json(layout)
    val key = Seq("event_id", "user_id", "event_type", "ts_us", "value_micros")
    assert(inferred.select(key.map(col): _*).orderBy("event_id").collect().toSeq ===
      explicitRead.select(key.map(col): _*).orderBy("event_id").collect().toSeq)
  }
}
