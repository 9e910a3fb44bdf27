package graft

import org.apache.spark.sql.functions._

import graft.io.{ManifestLog, ManifestQueries, Tables, TempLayouts}

/** The manifest table format ([[graft.io.ManifestLog]]): footer-harvested
  * stats correctness, pruning soundness + effectiveness, snapshot
  * isolation, atomic publish, and the q97 copy-on-write contract (file
  * reuse by reference, bounded rewrite set, old version immutable).
  */
class ManifestLogSpec extends SparkSpecBase {
  import ManifestLog._

  private def freshBase(): String = TempLayouts.scratch("graft_manifest_spec_")

  private lazy val ordersKv = {
    val t = Tables(spark, sf0001)
    t.orders.select(
      col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderstatus").as("status"))
  }

  test("commitAppend: manifest rows/bytes/stats match the data exactly") {
    val base = freshBase()
    val v = commitAppend(spark, base, ordersKv, Seq("k"), Some("k"), files = 8)
    assert(v == 0L)
    val m = manifest(base, v)
    assert(m.size == 8)
    assert(m.map(_.rows).sum == ordersKv.count())
    assert(m.forall(e => e.bytes > 0 && new java.io.File(base, e.path).length() == e.bytes))
    // footer stats must equal per-file true min/max
    val truth = read(spark, base, m)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    m.foreach { e =>
      val f = "file://" + new java.io.File(base, e.path).getAbsolutePath
      val (mn, mx) = truth.getOrElse(f, truth(new java.io.File(base, e.path).toURI.toString))
      val s = e.stats("k")
      assert(s.kind == "long" && s.min.get.toLong == mn && s.max.get.toLong == mx,
        s"footer stats ${s.min}/${s.max} vs true $mn/$mx for ${e.path}")
    }
  }

  test("pruneRange is sound (skipped files hold no matching rows) and effective") {
    val base = freshBase()
    val v = commitAppend(spark, base, ordersKv, Seq("k"), Some("k"), files = 16)
    val m = manifest(base, v)
    val Array(mnv, mxv) = ordersKv.agg(min(col("k")), max(col("k"))).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1)))
    val lo = mnv + (mxv - mnv) / 2
    val hi = lo + (mxv - mnv) / 10
    val (keep, skip) = pruneRange(m, "k", lo.toString, hi.toString)
    assert(skip.nonEmpty, "sorted 16-file layout must skip most files for a 10% band")
    assert(keep.size < m.size / 2, s"kept ${keep.size}/${m.size}")
    // soundness: skipped files contain zero matching rows
    if (skip.nonEmpty) {
      val leaked = read(spark, base, skip).filter(col("k").between(lo, hi)).count()
      assert(leaked == 0L, s"skipped files leaked $leaked matching rows")
    }
    // completeness: kept files hold the full matching multiset
    val full = read(spark, base, m).filter(col("k").between(lo, hi)).count()
    val kept = read(spark, base, keep).filter(col("k").between(lo, hi)).count()
    assert(kept == full)
  }

  test("string stats prune ISO date ranges; all-null files are skippable") {
    val base = freshBase()
    import testImplicits._
    val df = Seq(
      ("2024-01-05", 1L), ("2024-02-11", 2L), ("2024-03-20", 3L),
      ("2024-07-01", 4L), ("2024-08-15", 5L), ("2024-12-31", 6L))
      .toDF("odate", "x")
    val v0 = commitAppend(spark, base, df, Seq("odate"), Some("odate"), files = 3)
    // a second, all-null commit gets its own file
    val nulls = Seq((null.asInstanceOf[String], 7L), (null.asInstanceOf[String], 8L))
      .toDF("odate", "x")
    val v = commitAppend(spark, base, nulls, Seq("odate"))
    assert(v == v0 + 1)
    val m = manifest(base, v)
    assert(m.size >= 4)
    val (keep, skip) = pruneRange(m, "odate", "2024-07-01", "2024-08-31")
    assert(skip.nonEmpty)
    assert(read(spark, base, keep).filter(col("odate").between("2024-07-01", "2024-08-31"))
      .count() == 2)
    assert(read(spark, base, m).filter(col("odate").between("2024-07-01", "2024-08-31"))
      .count() == 2)
    // the all-null file is skipped: a BETWEEN never matches NULL
    val allNull = m.filter(e => e.stats.get("odate").exists(s => s.min.isEmpty && s.nulls > 0))
    assert(allNull.nonEmpty, "expected an all-null data file")
    assert(allNull.forall(e => skip.exists(_.path == e.path)),
      "all-null file must be skippable for a range predicate")
  }

  test("snapshot isolation: version 0 reads identically after later commits") {
    val base = freshBase()
    import testImplicits._
    commitAppend(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Seq("k"))
    val before = snapshot(spark, base, 0L).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    commitAppend(spark, base, Seq((3L, "c")).toDF("k", "s"), Seq("k"))
    assert(latest(base).contains(1L))
    val after = snapshot(spark, base, 0L).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after == before)
    assert(snapshot(spark, base, 1L).count() == 3) // append carried v0's files forward
  }

  test("atomic publish: a crashed manifest write (.tmp stray) is invisible") {
    val base = freshBase()
    import testImplicits._
    commitAppend(spark, base, Seq((1L, "a")).toDF("k", "s"), Seq("k"))
    val stray = new java.io.File(new java.io.File(base, "_manifests"), "7.tmp")
    java.nio.file.Files.write(stray.toPath, "garbage".getBytes("UTF-8"))
    assert(versions(base) == Seq(0L))
    assert(latest(base).contains(0L))
  }

  test("optimize: small files pack, big files reused by reference, state and history intact") {
    val base = freshBase()
    import testImplicits._
    // one big commit + four single-row fragments
    commitAppend(spark, base, ordersKv, Seq("k"), Some("k"), files = 2)
    (0 until 4).foreach { i =>
      commitAppend(spark, base, Seq((10000000L + i, i.toLong, "F")).toDF("k", "cents", "status"),
        Seq("k")): Unit
    }
    val head = latest(base).get
    val m0 = manifest(base, head)
    assert(m0.size == 6)
    val bigPaths = manifest(base, 0L).map(_.path).toSet
    val smallCut = m0.filter(e => !bigPaths.contains(e.path)).map(_.bytes).max + 1
    val before = snapshot(spark, base, head)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq

    val vOpt = optimize(spark, base, smallCut, Seq("k"), Some("k"))
    assert(vOpt.contains(head + 1))
    val m1 = manifest(base, vOpt.get)
    assert(m1.size == 3, s"expected 2 big + 1 packed, got ${m1.size}")
    assert(bigPaths.subsetOf(m1.map(_.path).toSet), "big files must be reused by reference")
    val after = snapshot(spark, base, vOpt.get)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(after == before, "OPTIMIZE changed the logical state")
    // the fragmented version still reads (history intact)
    assert(snapshot(spark, base, head).count() == before.size.toLong)
    // a second pass has a single small file left → no-op
    assert(optimize(spark, base, smallCut, Seq("k"), Some("k")).isEmpty)
  }

  test("vacuumOrphans deletes only unreferenced data files") {
    val base = freshBase()
    import testImplicits._
    commitAppend(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Seq("k"))
    // plant an orphan: a crashed stage() that never reached commitEntries
    stage(spark, base, "crashed", Seq((9L, "x")).toDF("k", "s"), Seq("k"))
    val orphan = new java.io.File(base, "data/crashed-0.parquet")
    assert(orphan.isFile)
    val deleted = vacuumOrphans(base)
    assert(deleted == Seq("crashed-0.parquet"), deleted.mkString(","))
    assert(!orphan.exists())
    assert(snapshot(spark, base, 0L).count() == 2, "vacuum touched a referenced file")
  }

  test("commitEntriesAtomic: 8 racing writers, no lost manifests, final state is the union") {
    val base = freshBase()
    import testImplicits._
    commitAppend(spark, base, Seq((0L, "base")).toDF("k", "s"), Seq("k"))
    // pre-stage one data file per writer (driver-side Spark writes can't
    // race from bare threads; the COMMIT is what's under test)
    val staged = (1 to 8).map { i =>
      i -> stage(spark, base, s"w$i", Seq((i.toLong, s"w$i")).toDF("k", "s"), Seq("k"))
    }.toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            commitEntriesAtomic(base)(prev => prev ++ staged(i))
        })
      }
      val ids = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(ids.distinct.size == 8, s"collided version ids: $ids")
    } finally pool.shutdownNow()
    assert(versions(base) == (0L to 8L), s"lost a version: ${versions(base)}")
    // every writer's entry survives: each retry rebuilt on the real head
    val finalRows = snapshot(spark, base, 8L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(finalRows == ((0L, "base") +: (1 to 8).map(i => (i.toLong, s"w$i"))).sorted)
    // no stray tmp files remain visible to discovery
    assert(latest(base).contains(8L))
  }

  test("merge-on-read delete: tombstones compose, zero data rewrites, history intact") {
    val base = freshBase()
    commitAppend(spark, base, ordersKv, Seq("k"), Some("k"), files = 8)
    val v0 = manifest(base, 0L)
    val n0 = snapshot(spark, base, 0L).count()
    val someKeys = snapshot(spark, base, 0L).select("k").orderBy(col("k")).limit(10)
    val v1 = commitDelete(spark, base, someKeys, Seq("k"))
    val m1 = manifest(base, v1)
    // data files untouched and reused by reference; one tombstone added
    assert(m1.filter(_.kind == "data") == v0)
    val tombs = m1.filter(_.kind == "delete")
    assert(tombs.size == 1 && tombs.head.rows == 10)
    assert(snapshot(spark, base, v1).count() == n0 - 10)
    // a second (head-based) delete composes with the first
    val moreKeys = snapshot(spark, base, 0L).select("k").orderBy(col("k").desc).limit(5)
    val v2 = commitDelete(spark, base, moreKeys, Seq("k"))
    assert(snapshot(spark, base, v2).count() == n0 - 15)
    // deleting already-deleted keys is idempotent in effect
    val v3 = commitDelete(spark, base, someKeys, Seq("k"))
    assert(snapshot(spark, base, v3).count() == n0 - 15)
    // history intact
    assert(snapshot(spark, base, 0L).count() == n0)
    assert(snapshot(spark, base, v1).count() == n0 - 10)
    // plan shape: the tombstone side broadcasts (no shuffle for the probe)
    val plan = snapshot(spark, base, v3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"MoR probe should be a broadcast anti-join:\n${plan.take(2000)}")
  }

  test("q103 pipeline: the gold rollup reads a pruned subset of the 12 silver files") {
    val df = graft.queries.Catalog.queries("q103_jsonl_manifest_pipeline")(spark, sf0001)
    val files = df.inputFiles
    assert(files.nonEmpty && files.length < 12,
      s"middle-quarter band should prune most of 12 time-sorted files, read ${files.length}")
    assert(df.collect().nonEmpty)
  }

  test("q97 CoW merge: untouched files reused by reference, rewrite set bounded, v0 immutable") {
    val base = freshBase()
    commitAppend(spark, base, ordersKv, Seq("k"), Some("k"), files = 16)
    val v0 = manifest(base, 0L)
    val v0Rows = snapshot(spark, base, 0L).count()
    val merged = ManifestQueries.mergedSnapshot(spark, base)
    val v1Id = latest(base).get
    assert(v1Id == 1L)
    val v1 = manifest(base, v1Id)
    val v0Paths = v0.map(_.path).toSet
    val reused = v1.map(_.path).toSet.intersect(v0Paths)
    val rewrittenOrNew = v1.filterNot(e => v0Paths.contains(e.path))
    // a 5% key band over a 16-file sorted layout touches 1–3 files
    assert(reused.size >= 13, s"only ${reused.size}/16 base files reused by reference")
    assert(rewrittenOrNew.nonEmpty && rewrittenOrNew.size <= 5,
      s"rewrite set not bounded: ${rewrittenOrNew.size}")
    // reused entries are IDENTICAL manifest entries (same bytes, same stats)
    v1.filter(e => v0Paths.contains(e.path)).foreach { e =>
      assert(v0.find(_.path == e.path).contains(e), s"reused entry mutated: ${e.path}")
    }
    // merged state: band rows flipped to X, inserts landed as N, total grows by band size
    val Array(mnv, mxv) = snapshot(spark, base, 0L).agg(min(col("k")), max(col("k")))
      .collect().flatMap(r => Array(r.getLong(0), r.getLong(1)))
    val lo = mnv + (mxv - mnv) / 3
    val hi = lo + (mxv - mnv) / 20
    val band = snapshot(spark, base, 0L).filter(col("k").between(lo, hi)).count()
    assert(band > 0, "test band is empty — bounds bug")
    assert(merged.count() == v0Rows + band)
    assert(merged.filter(col("status") === "X").count() == band)
    assert(merged.filter(col("status") === "N").count() == band)
    assert(merged.filter(col("k").between(lo, hi) && col("status") =!= "X").count() == 0)
    // v0 unchanged on disk
    assert(snapshot(spark, base, 0L).count() == v0Rows)
    assert(manifest(base, 0L) == v0)
  }

  test("commitEntries fails loudly on a version-id collision instead of replacing") {
    import testImplicits._
    val base = freshBase()
    commitAppend(spark, base, Seq((1L, "a")).toDF("k", "s"), Seq("k"))
    val head = manifest(base, 0L)
    // simulate the racing writer that lost: same next id, direct publish
    intercept[java.nio.file.FileAlreadyExistsException] {
      // a second publish at the SAME id (0) must not silently replace
      val dir = new java.io.File(base, "_manifests")
      val tmp = java.nio.file.Files.createTempFile(dir.toPath, "x", ".tmp")
      try java.nio.file.Files.createLink(new java.io.File(dir, "0").toPath, tmp)
      finally java.nio.file.Files.deleteIfExists(tmp)
    }
    assert(manifest(base, 0L) == head, "committed manifest must be untouched")
  }

  test("sequence scoping: a tombstone deletes only from older-seq data files") {
    import testImplicits._
    val base = freshBase()
    // v0: keys 1..4 at seq 0
    commitAppend(spark, base, Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "s"), Seq("k"))
    // one commit that deletes keys {2,3} from v0 AND re-inserts key 2's
    // new version at the same seq — the hybrid-merge MoR shape
    val prev = manifest(base, 0L)
    val tomb = stage(spark, base, "v1-del", Seq(2L, 3L).toDF("k"), Seq("k"))
      .map(_.copy(kind = "delete", seq = 1L))
    val ins = stage(spark, base, "v1-ins", Seq((2L, "B")).toDF("k", "s"), Seq("k"))
      .map(_.copy(seq = 1L))
    val v = commitEntries(base, prev ++ tomb ++ ins)
    val rows = snapshot(spark, base, v).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // old 2 and 3 deleted; NEW 2 (seq 1) survives the seq-1 tombstone
    assert(rows == Seq((1L, "a"), (2L, "B"), (4L, "d")), rows.mkString(","))
  }

  test("q104 hybrid merge: dense files rewritten, grazed files reused + tombstoned, history intact") {
    val base = freshBase()
    commitAppend(spark, base, ordersKv, Seq("k"), Some("k"), files = 16)
    val v0 = manifest(base, 0L)
    val v0Rows = snapshot(spark, base, 0L).count()
    val (merged, nHot, nCold) = ManifestQueries.hybridMergeSnapshot(spark, base)
    val v1 = manifest(base, latest(base).get)
    val v0Paths = v0.map(_.path).toSet
    // both legs actually exercised on the 16-file sorted layout
    assert(nHot >= 1, "no file was dense enough to rewrite — band/threshold bug")
    assert(nCold >= 1, "no file was grazed — band/threshold bug")
    assert(nHot + nCold <= 5, s"affected set not bounded: ${nHot + nCold}")
    // cold (grazed) files are reused BY REFERENCE; hot files are gone
    val coldReused = v1.filter(e => e.kind == "data" && v0Paths.contains(e.path))
    assert(coldReused.size == 16 - nHot,
      s"${coldReused.size} reused, expected ${16 - nHot}")
    coldReused.foreach { e =>
      assert(v0.find(_.path == e.path).contains(e), s"reused entry mutated: ${e.path}")
    }
    // exactly one tombstone leg, seq-scoped above the originals
    val tombs = v1.filter(_.kind == "delete")
    assert(tombs.nonEmpty && tombs.forall(_.seq == 1L))
    // merged state equals the band update, row count unchanged (pure update)
    val Array(mnv, mxv) = snapshot(spark, base, 0L).agg(min(col("k")), max(col("k")))
      .collect().flatMap(r => Array(r.getLong(0), r.getLong(1)))
    val lo = mnv + (mxv - mnv) / 2
    val hi = lo + (mxv - mnv) / 12
    val band = snapshot(spark, base, 0L).filter(col("k").between(lo, hi)).count()
    assert(band > 0, "test band is empty — bounds bug")
    assert(merged.count() == v0Rows)
    assert(merged.filter(col("status") === "M").count() == band)
    assert(merged.filter(col("k").between(lo, hi) && col("status") =!= "M").count() == 0)
    // history intact
    assert(snapshot(spark, base, 0L).count() == v0Rows)
    assert(manifest(base, 0L) == v0)
  }

  test("z-order layout: the 2-D band prunes files on BOTH columns; 1-D sort cannot") {
    // same data, same file count, two layouts: Morton(dday, cents) vs
    // sort-by-dday. The 2-D middle-third band must prune strictly more
    // files on the z layout (its per-file bounding boxes are small on
    // both dims), and pruning must stay sound on both.
    val src = Tables(spark, sf0001).orders.select(
      col("o_orderkey").as("k"),
      datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("dday"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val Array(mnD, mxD, mnC, mxC) = src.agg(
      min(col("dday")), max(col("dday")), min(col("cents")), max(col("cents")))
      .collect().flatMap(r => (0 to 3).map(r.getLong))
    def norm(c: org.apache.spark.sql.Column, mn: Long, mx: Long) =
      ((c - mn) * 65535L / math.max(1L, mx - mn)).cast("long")
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(norm(col("dday"), mnD, mxD), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(norm(col("cents"), mnC, mxC), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    val zBase = freshBase(); val dBase = freshBase()
    commitEntries(zBase, stage(spark, zBase, "v0-z", src.withColumn("z", z),
      Seq("dday", "cents"), Some("z"), files = 64))
    commitEntries(dBase, stage(spark, dBase, "v0-d", src,
      Seq("dday", "cents"), Some("dday"), files = 64))
    val (loD, hiD) = (mnD + 7 * (mxD - mnD) / 16,
      mnD + 7 * (mxD - mnD) / 16 + (mxD - mnD) / 8)
    val (loC, hiC) = (mnC + 7 * (mxC - mnC) / 16,
      mnC + 7 * (mxC - mnC) / 16 + (mxC - mnC) / 8)
    def bothDims(base: String): (Seq[ManifestEntry], Int) = {
      val m = manifest(base, 0L)
      val (kd, _) = pruneRange(m, "dday", loD.toString, hiD.toString)
      val (k2, _) = pruneRange(kd, "cents", loC.toString, hiC.toString)
      (k2, m.size)
    }
    val (zKeep, zTotal) = bothDims(zBase)
    val (dKeep, _) = bothDims(dBase)
    assert(zKeep.size < zTotal, "z layout pruned nothing for the 2-D band")
    assert(zKeep.size < dKeep.size,
      s"z layout must out-prune the 1-D sort on a 2-D band: z=${zKeep.size} 1d=${dKeep.size}")
    // soundness both ways: the kept sets still hold the full matching multiset
    val want = src.filter(col("dday").between(loD, hiD) && col("cents").between(loC, hiC))
      .count()
    assert(want > 0, "test band is empty — bounds bug")
    Seq(zBase -> zKeep, dBase -> dKeep).foreach { case (b, keep) =>
      val got = read(spark, b, keep)
        .filter(col("dday").between(loD, hiD) && col("cents").between(loC, hiC)).count()
      assert(got == want, s"pruned read lost rows: $got vs $want under $b")
    }
  }

  test("readChanges: per-window exactness, CoW emits delete+insert, re-deletes are phantom-free") {
    import testImplicits._
    val base = freshBase()
    // v0: keys 1..6
    commitAppend(spark, base,
      (1L to 6L).map(k => (k, s"v$k")).toDF("k", "s"), Seq("k"), Some("k"))
    // v1: append keys 7,8
    commitAppend(spark, base,
      Seq((7L, "a"), (8L, "b")).toDF("k", "s"), Seq("k"), Some("k"))
    // v2: MoR delete of {2,3}
    commitDelete(spark, base, Seq(2L, 3L).toDF("k"), Seq("k"))
    // v3: idempotent re-delete of {2,3} (already gone at v2)
    commitDelete(spark, base, Seq(2L, 3L).toDF("k"), Seq("k"))
    def ch(f: Long, t: Long): Set[(String, Long)] =
      readChanges(spark, base, f, t, Seq("k")).collect()
        .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("k"))).toSet
    assert(ch(0L, 1L) == Set("insert" -> 7L, "insert" -> 8L))
    assert(ch(1L, 2L) == Set("delete" -> 2L, "delete" -> 3L))
    // the re-delete window is EMPTY: {2,3} did not exist at v2
    assert(ch(2L, 3L) == Set.empty[(String, Long)])
    // the whole window composes: net inserts + effective deletes
    assert(ch(0L, 3L) == Set("insert" -> 7L, "insert" -> 8L,
      "delete" -> 2L, "delete" -> 3L))
    // a CoW rewrite (file replaced) emits delete+insert for its keys —
    // the standard file-diff semantics without a captured change feed
    val v3 = manifest(base, 3L)
    val (dataE, tombE) = v3.partition(_.kind == "data")
    val firstFile = dataE.minBy(_.path.hashCode).path
    val rewritten = read(spark, base, dataE.filter(_.path == firstFile))
      .select(col("k"), concat(col("s"), lit("!")).as("s"))
    val staged = stage(spark, base, "v4-rw", rewritten, Seq("k"), Some("k"))
    commitEntries(base,
      dataE.filterNot(_.path == firstFile) ++ tombE ++ staged)
    val keysInFile = read(spark, base, dataE.filter(_.path == firstFile))
      .select(col("k")).collect().map(_.getLong(0)).toSet
    // live keys only (deleted ones can't re-emit)
    val live = snapshot(spark, base, 3L).select(col("k"))
      .collect().map(_.getLong(0)).toSet
    val expect = (keysInFile & live).flatMap(k =>
      Set("delete" -> k, "insert" -> k))
    assert(ch(3L, 4L) == expect, s"got ${ch(3L, 4L)}, want $expect")
  }

  test("schema evolution: add-column null-fills old files, rename is metadata-only, v0 intact") {
    import testImplicits._
    val base = freshBase()
    val v0 = commitAppend(spark, base,
      Seq((1L, 10L, "O"), (2L, 20L, "F")).toDF("k", "cents", "status"),
      Seq("k"), Some("k"))
    commitSchema(base, v0, Seq(
      ColumnDef("k", "k", "BIGINT"), ColumnDef("cents", "cents", "BIGINT"),
      ColumnDef("status", "status", "STRING")))
    val v0Entries = manifest(base, v0)
    val v1 = commitAppend(spark, base,
      Seq((3L, 30L, "O", "HI")).toDF("k", "cents", "status", "prio"),
      Seq("k"), Some("k"))
    commitSchema(base, v1, Seq(
      ColumnDef("k", "k", "BIGINT"), ColumnDef("cents", "cents", "BIGINT"),
      ColumnDef("order_status", "status", "STRING"),
      ColumnDef("prio", "prio", "STRING")))
    // zero rewrites: v0's files ride into v1 by reference
    val v1Entries = manifest(base, v1)
    v0Entries.foreach(e => assert(v1Entries.contains(e), s"v0 file rewritten: ${e.path}"))
    val rows = snapshotEvolved(spark, base, v1).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSeq
    assert(rows == Seq((1L, 10L, "O", None), (2L, 20L, "F", None),
      (3L, 30L, "O", Some("HI"))), rows.mkString(","))
    // renamed logical name visible at v1; v0 still reads under ITS schema
    assert(snapshotEvolved(spark, base, v1).columns.toSeq ==
      Seq("k", "cents", "order_status", "prio"))
    assert(snapshotEvolved(spark, base, v0).columns.toSeq ==
      Seq("k", "cents", "status"))
    assert(snapshotEvolved(spark, base, v0).count() == 2)
  }

  test("snapshotEvolved reads through a streaming txn marker (kind filter, not 2-way split)") {
    import testImplicits._
    // regression (round-14 advisory): snapshotEvolved's old two-way
    // partition (delete vs everything-else) landed a streaming commit's
    // txn marker in `data` and passed its fake path txn/<queryId> to the
    // parquet reader — crashing any evolved-schema table a streaming
    // query had committed to
    val base = freshBase()
    val v0 = commitAppend(spark, base,
      Seq((1L, 10L, "O"), (2L, 20L, "F")).toDF("k", "cents", "status"),
      Seq("k"), Some("k"))
    commitSchema(base, v0, Seq(
      ColumnDef("k", "k", "BIGINT"), ColumnDef("cents", "cents", "BIGINT"),
      ColumnDef("status", "status", "STRING")))
    val staged = stage(spark, base, "stream-e0",
      Seq((3L, 30L, "O")).toDF("k", "cents", "status"), Seq("k"))
    val v1 = commitStreamEpoch(base, "query-evo", 0L)(_ ++ staged)
    assert(v1.contains(1L))
    assert(manifest(base, 1L).exists(_.kind == "txn"))
    // data entries committed through the stream carry seq = the version
    // the arbiter REALLY published, assigned inside the atomic closure
    assert(manifest(base, 1L).filter(e =>
      e.kind == "data" && e.path.contains("stream-e0")).forall(_.seq == 1L))
    val rows = snapshotEvolved(spark, base, 1L).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows == Seq((1L, 10L, "O"), (2L, 20L, "F"), (3L, 30L, "O")), rows.mkString(","))
  }

  test("optimize preserves commit-time NDV stats on the packed files") {
    import testImplicits._
    // regression (round-14 advisory): optimize re-staged packed files
    // without ndvCols, so compaction silently dropped the per-file NDV
    // the q109 CBO read depends on
    val base = freshBase()
    (0 until 3).foreach { i =>
      commitAppend(spark, base,
        (0 until 40).map(j => (i * 40L + j, (i * 40L + j) % 7, s"s${j % 5}"))
          .toDF("k", "grp", "tag"),
        Seq("k"), Some("k"), ndvCols = Seq("k", "grp")): Unit
    }
    assert(manifest(base, latest(base).get).forall(_.ndv.keySet == Set("k", "grp")))
    val v = optimize(spark, base, smallBytes = Long.MaxValue,
      statsCols = Seq("k"), sortCol = Some("k")).get
    val packed = manifest(base, v).filter(_.kind == "data")
    assert(packed.size == 1)
    assert(packed.head.ndv.keySet == Set("k", "grp"),
      s"packed file lost NDV stats: ${packed.head.ndv}")
    assert(packed.head.ndv("grp") >= 6L && packed.head.ndv("grp") <= 8L)
    assert(packed.head.stats.contains("grp"), "ndv-derived ColStat dropped by pack")
  }
}
