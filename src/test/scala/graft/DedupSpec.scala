package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.TextFunctions
import graft.io.Tables

/** Dedup-operator property tests over the sf0.001 documents corpus with
  * deterministically planted duplicates (see DedupOps scaladoc). */
class DedupSpec extends SparkSpecBase {

  lazy val docs = Tables(spark, sf0001).documents

  test("exact dedup: every planted whitespace-variant collapses to its original") {
    val groups = graft.queries.Catalog.queries("d01_dedup_exact")(spark, sf0001)
      .collect()
    assert(groups.length === 500)
    assert(groups.forall(_.getAs[Long]("dup_cnt") === 2L))
    // canonical id is always the original (min of {id, id+100000})
    assert(groups.forall(_.getAs[Long]("canonical_id") < 100000L))
  }

  test("minhash LSH recovers planted near-dup pairs with high recall, verified precision") {
    val corpus = DedupOps.nearDupCorpus(docs)
    val found = DedupOps.minhashNearDups(corpus, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

    // ground truth: exact jaccard of every planted pair (i, i+100000)
    val sh = corpus
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("shingles", TextFunctions.wordShingles("toks", 5))
      .select(col("doc_id"), col("shingles"))
    val a = sh.filter(col("doc_id") < 100000L)
      .select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val b = sh.filter(col("doc_id") >= 100000L)
      .select((col("doc_id") - 100000L).as("doc_a"), col("shingles").as("sb"))
    val truthJ = a.join(b, "doc_a")
      .select(col("doc_a"), TextFunctions.jaccard(col("sa"), col("sb")).as("j"))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Double]("j"))).toMap
    def pairsOver(t: Double) = truthJ.filter(_._2 >= t).keySet
      .map(i => (i, i + 100000L))

    // LSH detection probability at jaccard j is 1-(1-j^r)^b: near the 0.5
    // threshold it is only ~0.40, by design — assert strict recall where
    // the family guarantees it (j ≥ 0.8 → ~0.985/pair) and a looser bound
    // over everything above the verification threshold.
    val truth08 = pairsOver(0.8)
    val truth05 = pairsOver(0.5)
    assert(truth08.nonEmpty && truth05.nonEmpty,
      "test corpus should contain planted near-dups over threshold")
    assert(truth08.intersect(found).size.toDouble / truth08.size >= 0.97,
      s"recall@0.8 too low: ${truth08.intersect(found).size}/${truth08.size}")
    assert(truth05.intersect(found).size.toDouble / truth05.size >= 0.90,
      s"recall@0.5 too low: ${truth05.intersect(found).size}/${truth05.size}")
  }

  test("simhash: all reported pairs within hamming bound; planted pairs ≤3 recovered") {
    val corpus = DedupOps.nearDupCorpus(docs)
    val reported = DedupOps.simhashNearDups(corpus, maxHamming = 3)
      .collect()
    assert(reported.forall(_.getAs[Long]("hamming") <= 3L))
    val found = reported.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

    // ground truth hamming for planted pairs, from the HOF reference
    // bit-vector formulation (independent of the native simhash64 path)
    val sig = HofReference.withSimhashBits(corpus)
    val a = sig.filter(col("doc_id") < 100000L)
      .select(col("doc_id").as("doc_a"), col("bits").as("ba"))
    val b = sig.filter(col("doc_id") >= 100000L)
      .select((col("doc_id") - 100000L).as("doc_a"), col("bits").as("bb"))
    val planted = a.join(b, "doc_a")
      .withColumn("h", expr(
        "aggregate(zip_with(ba, bb, (x, y) -> IF(x <> y, 1, 0)), 0, (acc, v) -> acc + v)"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_a") + 100000L)).toSet
    assert(planted.nonEmpty)
    // 4-block LSH is exhaustive for hamming ≤ 3 (pigeonhole)
    assert(planted.subsetOf(found),
      s"missing ${planted.diff(found).size} of ${planted.size} planted pairs")
  }

  test("simhash hot-block cap: an identical-signature cluster over the cap drops whole; small blocks keep reporting") {
    import testImplicits._
    // 1,500 identical texts — one simhash, so all four 16-bit blocks are
    // 1,500-member hot blocks (> MaxBlock 1,024): without the cap this
    // corpus alone generates 4 × 1,500² candidate rows (the shape that
    // killed the 500k-doc VecScale sweep); with it the cluster's blocks
    // drop WHOLE and contribute zero pairs. Two other identical docs
    // form a 2-member block → their hamming-0 pair must still report.
    val hot = (0L until 1500L).map(i => (i, "hot cluster text " * 8))
    val pair = Seq((900000L, "a singular duplicated sentence kept small"),
      (900001L, "a singular duplicated sentence kept small"))
    val corpus = (hot ++ pair).toDF("doc_id", "text")
    val out = DedupOps.simhashNearDups(corpus, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(out.contains((900000L, 900001L)), s"small-block pair lost: $out")
    assert(!out.exists(_._1 < 1500L),
      s"hot-cluster pairs should have been dropped by the block cap: ${out.take(5)}")
  }

  test("minhash verification is sound corpus-wide: brute-force exact Jaccard over all pairs") {
    val corpus = DedupOps.nearDupCorpus(docs)
    val found = DedupOps.minhashNearDups(corpus, threshold = 0.5).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("jaccard"))).toMap

    // Independent ground truth across the WHOLE corpus (not only planted
    // pairs): STRING word-5-shingle sets (no hashing anywhere, so this
    // also cross-checks the rotate-xor shingle-hash path for collision
    // artifacts), all ~500k pairs brute-forced on the driver — a test
    // can afford O(n²) at n=1000; the operator must not.
    val shingleSets = corpus
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("shingles", TextFunctions.wordShingles("toks", 5))
      .select(col("doc_id"), col("shingles"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](r.fieldIndex("shingles")).toSet)
    val truth = (for {
      i <- shingleSets.indices.iterator
      j <- (i + 1) until shingleSets.length
      (idA, sA) = shingleSets(i)
      (idB, sB) = shingleSets(j)
      inter = sA.intersect(sB).size
      jac = inter.toDouble / (sA.size + sB.size - inter)
      if jac >= 0.5
    } yield (math.min(idA, idB), math.max(idA, idB)) -> jac).toMap

    // Soundness: NO false positive survives verification anywhere in the
    // corpus, and the reported jaccard equals the brute-force value.
    val falsePos = found.keySet.diff(truth.keySet)
    assert(falsePos.isEmpty, s"false positives survived verification: $falsePos")
    found.foreach { case (pair, j) =>
      assert(math.abs(j - truth(pair)) < 1e-12,
        s"pair $pair reported jaccard $j but brute force says ${truth(pair)}")
    }
    // Corpus-wide completeness where the LSH family guarantees it:
    // detection probability at j ≥ 0.8 is ~0.985 per pair.
    val truth08 = truth.filter(_._2 >= 0.8).keySet
    assert(truth08.nonEmpty)
    assert(truth08.intersect(found.keySet).size.toDouble / truth08.size >= 0.97,
      s"corpus-wide recall@0.8: ${truth08.intersect(found.keySet).size}/${truth08.size}")
  }

  test("simhash LSH is exact corpus-wide: reported pairs equal brute-force Hamming ≤ 3") {
    val corpus = DedupOps.nearDupCorpus(docs)
    val found = DedupOps.simhashNearDups(corpus, maxHamming = 3).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Long]("hamming"))).toMap

    // Brute-force ALL pairs from the native signatures (1000 sigs →
    // ~500k popcounts on the driver). The 4×16-bit block LSH is
    // exhaustive for Hamming ≤ 3 by pigeonhole, so found must equal
    // truth EXACTLY — both directions, everywhere in the corpus.
    val sigs = DedupOps.simhashSignature(corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sig")))
    val truth = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      (idA, sA) = sigs(i)
      (idB, sB) = sigs(j)
      h = java.lang.Long.bitCount(sA ^ sB)
      if h <= 3
    } yield (math.min(idA, idB), math.max(idA, idB)) -> h.toLong).toMap
    assert(found === truth,
      s"missing=${truth.keySet.diff(found.keySet).size} " +
        s"spurious=${found.keySet.diff(truth.keySet).size} of ${truth.size}")
    assert(truth.nonEmpty)
  }

  test("native simhash64 long equals the packed HOF bit-vector signature") {
    val corpus = docs.limit(100).select(col("doc_id"), col("text"))
    val bits = HofReference.withSimhashBits(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Int](r.fieldIndex("bits")).zipWithIndex
          .map { case (bit, i) => if (bit == 1) 1L << i else 0L }
          .foldLeft(0L)(_ | _)).toMap
    val sigs = DedupOps.simhashSignature(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sig")).toMap
    assert(bits === sigs)
  }

  test("ngram jaccard pairs are symmetric-free and ordered") {
    val rows = graft.queries.Catalog.queries("d03_dedup_ngram_jaccard")(spark, sf0001)
      .collect()
    assert(rows.length === 20)
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    val js = rows.map(_.getAs[Double]("jaccard"))
    assert(js.zip(js.tail).forall { case (x, y) => x >= y })
  }

  test("internal caches release cleanly after a dedup/ANN sweep") {
    graft.InternalCaches.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val corpus = DedupOps.nearDupCorpus(docs)
    DedupOps.minhashNearDups(corpus, threshold = 0.5).count()
    DedupOps.simhashNearDups(corpus, maxHamming = 3).count()
    graft.similarity.SimilarityOps
      .ivfTopK(Tables(spark, sf0001).embeddings, qid = 0L, k = 5,
        nCells = 8, nprobe = 2,
        datasetKey = new java.io.File(sf0001).getCanonicalPath)
      .count()
    assert(graft.InternalCaches.liveCount >= 4,
      "minhash sh+sig, simhash sig, and IVF centroids should be tracked")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.nonEmpty, "the sweep should have materialized cached blocks")
    graft.InternalCaches.releaseAll()
    assert(graft.InternalCaches.liveCount === 0)
    val after = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(after.isEmpty, s"cached RDDs survived releaseAll: $after")
  }

  test("capBlocks: passes every block under the cap, drops oversized blocks whole") {
    import testImplicits._
    val df = ((1 to 10).map(i => (i.toLong, "hot")) ++ Seq((11L, "cold"), (12L, "cold")))
      .toDF("id", "block")
    // cap above every block: identity
    val all = DedupOps.capBlocks(df, Seq("block"), cap = 64)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq === (1L to 12L))
    // cap between block sizes: the 10-member hot block is dropped WHOLE,
    // the 2-member block survives intact (no partial truncation)
    val capped = DedupOps.capBlocks(df, Seq("block"), cap = 5)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(capped.toSeq === Seq(11L, 12L))
    // the catalog cap is far above the largest real block, so d03/s04
    // outputs here are identical to uncapped — the cap only exists to
    // fence a degenerate key at scale
    val maxBlock = docs.groupBy("source").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxBlock < DedupOps.MaxBlock,
      s"test-data block $maxBlock should sit under MaxBlock=${DedupOps.MaxBlock}")
  }

  test("native word/char ngram hashes are bit-identical to the HOF formulations (whole corpus)") {
    import org.apache.spark.sql.functions.{call_function, expr, lit}
    // word 5-grams: native vs the retained HOF cross-check
    val nat = docs.select(col("doc_id"),
        call_function("word_ngram_hashes", col("text"), lit(5)).as("shingles"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = HofReference.shingledHof(docs.select("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(nat.keySet === hof.keySet)
    nat.foreach { case (id, s) => assert(s === hof(id), s"word grams diverge for doc $id") }
    // char 8-grams: native vs hash-of-substring HOF
    val natC = docs.select(col("doc_id"),
        call_function("char_ngram_hashes", col("text"), lit(8)).as("gh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hofC = docs
      .withColumn("gh", expr(
        "array_sort(array_distinct(transform(" +
          "sequence(1, greatest(length(text) - 7, 1))," +
          " i -> xxhash64(substring(text, i, 8)))))"))
      .select(col("doc_id"), col("gh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    natC.foreach { case (id, s) => assert(s === hofC(id), s"char grams diverge for doc $id") }
    // edge cases: empty-ish strings, fewer tokens/chars than n, multi-space runs
    import testImplicits._
    val edge = Seq((1L, "one"), (2L, "a b"), (3L, "  x   y  "), (4L, "abcdefg"),
        (5L, "exactly five words in here"))
      .toDF("doc_id", "text")
    val en = edge.select(col("doc_id"),
        call_function("word_ngram_hashes", col("text"), lit(5)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val eh = HofReference.shingledHof(edge)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    en.foreach { case (id, s) => assert(s === eh(id), s"edge case doc $id diverges") }
  }

  test("native word_ngram_md5_hashes equals a built-in md5/conv HOF formulation") {
    import org.apache.spark.sql.functions.{call_function, expr, lit}
    // independent formulation: gram strings via slice+array_join, hash =
    // first 16 md5 hex chars reassembled from two 32-bit conv() halves
    // (shiftleft into the sign bit IS the two's-complement reinterpretation)
    def hofOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("tk", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("sh", expr(
        """array_sort(array_distinct(transform(
          |  transform(sequence(1, greatest(size(tk) - 4, 1)),
          |            i -> array_join(slice(tk, i, 5), ' ')),
          |  g -> shiftleft(cast(conv(substr(md5(g), 1, 8), 16, 10) as bigint), 32)
          |       | cast(conv(substr(md5(g), 9, 8), 16, 10) as bigint))))""".stripMargin))
      .select(col("doc_id"), col("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def natOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        call_function("word_ngram_md5_hashes", col("text"), lit(5)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val (nat, hof) = (natOf(docs), hofOf(docs))
    assert(nat.keySet === hof.keySet)
    nat.foreach { case (id, s) => assert(s === hof(id), s"md5 grams diverge for doc $id") }
    import testImplicits._
    val edge = Seq((1L, "one"), (2L, "a b"), (3L, "  x   y  "), (4L, ""),
        (5L, "exactly five words in here"), (6L, "six words now in this one here"))
      .toDF("doc_id", "text")
    val (en, eh) = (natOf(edge), hofOf(edge))
    en.foreach { case (id, s) => assert(s === eh(id), s"md5 edge case doc $id diverges") }
  }

  test("native word_ngram_hashes beats the HOF on a 100k-token document (warm, ≥3×)") {
    import org.apache.spark.sql.functions.{call_function, lit}
    import testImplicits._
    val big = Seq.tabulate(4)(i => (i.toLong,
      Seq.tabulate(100000)(j => s"w${(j * 31 + i) % 997}").mkString(" ")))
      .toDF("doc_id", "text").repartition(1).cache()
    big.count()
    def timeIt(f: => Unit): Double = { val t0 = System.nanoTime; f; (System.nanoTime - t0) / 1e9 }
    val runNat = () => big.select(call_function("word_ngram_hashes", col("text"), lit(5)))
      .foreach(_ => ())
    val runHof = () => HofReference.shingledHof(big).foreach(_ => ())
    runNat(); runHof() // codegen/plan warmup for both paths
    val tNat = (1 to 3).map(_ => timeIt(runNat())).min
    val tHof = (1 to 3).map(_ => timeIt(runHof())).min
    big.unpersist()
    // both are O(tokens); the native win is interpreted-lambda dispatch
    // and per-gram slice allocation — constant-factor but large
    assert(tHof >= tNat * 3,
      f"native $tNat%.3fs should be ≥3× faster than HOF $tHof%.3fs")
  }

  test("connected components: labels equal driver-side union-find on a seeded random graph") {
    import testImplicits._
    // deterministic pseudo-random graph: 300 nodes, 260 edges → a mix of
    // chains, cycles, stars and singletons; enough rounds to exercise the
    // alternating iteration beyond one pass
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(260)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    // driver-side union-find ground truth (min-id labeling)
    val parent = scala.collection.mutable.Map((0L until 300L).map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).filter(n => edges.exists(p =>
      (p._1 == n && p._2 != n) || (p._2 == n && p._1 != n))).distinct
    val expected = touched.map(n => n -> find(n)).toMap

    val got = graft.dedup.ConnectedComponents
      .components(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("connected components: a long path converges to one min-rooted star") {
    import testImplicits._
    // path 0-1-2-...-40 plus a reversed/duplicated edge and a self-loop:
    // diameter 40 forces the O(log² n) alternation to iterate
    val path = (0L until 40L).map(i => (i, i + 1)) ++ Seq((5L, 4L), (7L, 7L), (3L, 4L))
    val got = graft.dedup.ConnectedComponents
      .components(path.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === (0L to 40L).toSet)
    assert(got.values.toSet === Set(0L))
  }

  test("d07 fuzzy decontamination: sound vs brute-force cross Jaccard, full recall on strong matches") {
    val corpus = DedupOps.clusterCorpus(docs)
    val out = graft.queries.Catalog.queries("d07_fuzzy_decontaminate")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("train_id") ->
        (r.getAs[Long]("n_eval_matches"), r.getAs[Long]("best_eval_id"),
          r.getAs[Double]("best_jaccard"))).toMap
    assert(out.nonEmpty)

    // Brute-force ground truth: STRING word-5-shingle Jaccard for the full
    // train × eval cross product (200 × 100 pairs at sf0.001 — a test can
    // afford the product; the operator must not).
    val shingleSets = corpus
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("shingles", TextFunctions.wordShingles("toks", 5))
      .select(col("doc_id"), col("shingles"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](r.fieldIndex("shingles")).toSet)
    val (train, eval) = shingleSets.partition(_._1 >= 100000L)
    def jac(a: Set[String], b: Set[String]): Double = {
      val i = a.intersect(b).size
      i.toDouble / (a.size + b.size - i)
    }
    val truth = train.map { case (tid, ts) =>
      tid -> eval.map { case (eid, es) => eid -> jac(ts, es) }
        .filter(_._2 >= 0.5).toMap
    }.toMap

    // Soundness: every reported train doc has true matches, its reported
    // count never exceeds the true count, and the best match is a real
    // pair whose reported jaccard equals the brute-force value.
    out.foreach { case (tid, (n, bestId, bestJ)) =>
      val t = truth(tid)
      assert(t.nonEmpty, s"train $tid reported but has no true match ≥ 0.5")
      assert(n <= t.size, s"train $tid reports $n matches, truth has ${t.size}")
      assert(t.contains(bestId), s"train $tid best match $bestId is not a true match")
      assert(math.abs(bestJ - t(bestId)) < 1e-12,
        s"train $tid best jaccard $bestJ != exact ${t(bestId)}")
    }
    // Recall where the LSH family guarantees it (detection ≈ 0.985 at
    // j ≥ 0.8): every train doc with a strong true match is flagged.
    val strong = truth.filter(_._2.values.exists(_ >= 0.8)).keySet
    assert(strong.nonEmpty)
    assert(strong.intersect(out.keySet).size.toDouble / strong.size >= 0.97,
      s"recall@0.8: ${strong.intersect(out.keySet).size}/${strong.size}")
    // The planted structure (every train doc is a light truncation of its
    // original) means the -100000/-200000 parent is almost always the
    // best match; spot-check that the argmax picks it when it is.
    val parentIsBest = out.count { case (tid, (_, bestId, _)) =>
      bestId == tid % 100000L }
    assert(parentIsBest.toDouble / out.size >= 0.9,
      s"only $parentIsBest/${out.size} best matches are the planted parent")
  }

  test("d05 clusters: planted triples collapse transitively, canonical = min member") {
    val out = graft.queries.Catalog.queries("d05_dedup_clusters")(spark, sf0001)
      .collect()
    assert(out.nonEmpty)
    // every cluster id is the minimum member id
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[Long]("doc_id")).min === cid)
      assert(rows.forall(_.getAs[Long]("cluster_size") === rows.length.toLong))
    }
    // the full-length planted chains {i, i+100000, i+200000} are single
    // clusters: membership of the base doc implies both truncations when
    // cluster_size = 3
    val triples = byCluster.filter(_._2.length == 3)
    assert(triples.nonEmpty, "expected at least one 3-member planted cluster")
    triples.foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[Long]("doc_id")).toSet ===
        Set(cid, cid + 100000L, cid + 200000L))
    }
  }

  test("d08: spans equal a driver-side gram-inversion + interval-union replay") {
    val k = graft.dedup.SpanDedup.K
    val texts = graft.io.Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // gram -> set of docs containing it (positions are 1-based chars)
    val gramDocs = collection.mutable.Map.empty[String, collection.mutable.Set[Long]]
    texts.foreach { case (id, s) =>
      (0 to s.length - k).foreach { i =>
        gramDocs.getOrElseUpdate(s.substring(i, i + k), collection.mutable.Set()) += id
      }
    }
    val want = texts.flatMap { case (id, s) =>
      val starts = (0 to s.length - k)
        .filter(i => gramDocs(s.substring(i, i + k)).exists(_ != id))
      if (starts.isEmpty) None
      else {
        // union of [i, i+k-1] intervals via the same sweep the engine uses
        var spans = 0L; var dupChars = 0L
        var curS = -1L; var curE = -2L
        starts.foreach { i =>
          if (i > curE) {
            if (curS >= 0) { spans += 1; dupChars += curE - curS + 1 }
            curS = i; curE = i + k - 1
          } else curE = math.max(curE, i + k - 1)
        }
        spans += 1; dupChars += curE - curS + 1
        Some(id -> (starts.length.toLong, spans, dupChars))
      }
    }
    val got = graft.queries.Catalog.queries("d08_dup_span_detect")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_starts"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_chars"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("dup_permille"))).toMap
    graft.InternalCaches.releaseAll()
    assert(got.keySet === want.keySet, "docs with duplicated spans")
    assert(got.nonEmpty, "corpus must contain cross-doc verbatim spans")
    want.foreach { case (id, (nStarts, nSpans, dupChars)) =>
      val (gStarts, gSpans, gChars, nChars, permille) = got(id)
      assert(gStarts === nStarts, s"doc $id starts")
      assert(gSpans === nSpans, s"doc $id spans")
      assert(gChars === dupChars, s"doc $id dup chars")
      assert(nChars === texts(id).length.toLong)
      assert(permille === dupChars * 1000L / nChars)
      assert(dupChars <= nChars)
    }
  }

  test("d12 containment: planted prefix snippets recovered at exactly 1.0; string-gram recompute parity on every reported pair") {
    val out = graft.queries.Catalog.queries("d12_containment_dedup")(spark, sf0001)
      .collect()
    graft.InternalCaches.releaseAll()
    val originals = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

    // The corpus as the operator builds it: originals + prefix snippets.
    def toksOf(t: String): Array[String] = t.split("\\s+").filter(_.nonEmpty)
    val planted = originals.keys.filter(_ % 4 == 0).toSeq.sorted
    val snippetText = planted.map { id =>
      val toks = toksOf(originals(id))
      (id + 1000000L) -> toks.take(math.ceil(toks.length * 0.6).toInt).mkString(" ")
    }.toMap
    val textOf = originals ++ snippetText

    // Recall: every planted snippet is a strict token-prefix of its
    // original, so its 5-gram set is a subset — containment must be
    // EXACTLY 1.0 and the pair must be reported (at sf0.001 every gram
    // df is far under RareDfCap, so the index cannot miss it).
    val byPair = out.map(r =>
      (r.getAs[Long]("contained_id"), r.getAs[Long]("container_id")) -> r).toMap
    planted.foreach { id =>
      val row = byPair.get((id + 1000000L, id))
      assert(row.nonEmpty, s"planted snippet of doc $id not recovered")
      assert(row.get.getAs[Long]("containment_e6") === 1000000L,
        s"snippet of doc $id should be fully contained")
    }

    // Soundness + hash-vs-string parity: recompute n_grams/n_shared for
    // EVERY reported pair from raw STRING 5-grams (no hashing anywhere)
    // and require exact agreement; re-derive the integer containment.
    def grams5(t: String): Set[String] = {
      val toks = toksOf(t)
      val n = math.max(toks.length - 4, 1)
      (0 until n).map(i => toks.slice(i, i + 5).mkString(" ")).toSet
    }
    assert(out.nonEmpty)
    out.foreach { r =>
      val a = r.getAs[Long]("contained_id")
      val b = r.getAs[Long]("container_id")
      val ga = grams5(textOf(a))
      val gb = grams5(textOf(b))
      assert(r.getAs[Long]("n_grams") === ga.size.toLong, s"pair ($a,$b) n_grams")
      val shared = ga.intersect(gb).size.toLong
      assert(r.getAs[Long]("n_shared") === shared, s"pair ($a,$b) n_shared")
      assert(shared * 5 >= ga.size.toLong * 4, s"pair ($a,$b) under threshold")
      assert(r.getAs[Long]("containment_e6") === shared * 1000000L / ga.size)
    }
  }

  test("d13: soft weights are exact inverse cluster sizes; per-cluster mass bounded") {
    val res = graft.queries.Catalog.queries("d13_dedup_soft_weights")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byId = res.map(r => r._1 -> r).toMap
    // corpus = docs ∪ perturbed twins → every planted twin lands in its
    // original's fingerprint cluster, so every cluster has size ≥ 2 and
    // no row keeps full weight
    res.foreach { case (id, fp, cs, w) =>
      assert(w === 1000000L / cs, s"doc $id weight")
      assert(cs >= 2L, s"doc $id escaped its planted twin's cluster")
      if (id >= 100000L) assert(byId(id - 100000L)._2 === fp, s"twin $id fingerprint")
    }
    // exact cluster arithmetic: each cluster's row count equals its
    // declared size, and its total weight mass is 1e6 up to floor loss
    res.groupBy(_._2).foreach { case (fp, rows) =>
      val cs = rows.head._3
      assert(rows.length.toLong === cs, s"cluster $fp size")
      val mass = rows.map(_._4).sum
      assert(mass <= 1000000L && mass > 1000000L - cs, s"cluster $fp mass $mass")
    }
  }

  test("d14: estimator calibration is internally exact and statistically sane") {
    val res = graft.queries.Catalog.queries("d14_minhash_estimator")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    graft.InternalCaches.releaseAll()
    assert(res.nonEmpty)
    res.foreach { case (a, b, agree, est, jacc, err) =>
      assert(a < b)
      // a candidate pair shares at least one full band = 4 signature rows
      assert(agree >= 4L && agree <= 32L, s"($a,$b) agreement $agree")
      assert(est === agree * 1000000L / 32L)
      assert(err === est - jacc)
      assert(jacc >= 0L && jacc <= 1000000L)
    }
    // the estimator must actually estimate: mean |err| well under the
    // spacing of a couple of signature positions (1/32 ≈ 31250 e6-units;
    // Var[est] = J(1-J)/32 puts typical error under ~2 positions)
    val meanAbsErr = res.map(r => math.abs(r._6)).sum / res.length
    assert(meanAbsErr < 100000L, s"mean |err| $meanAbsErr — estimator broken")
    // high-agreement pairs are high-Jaccard pairs on this corpus
    res.filter(_._3 === 32L).foreach { case (a, b, _, _, jacc, _) =>
      assert(jacc >= 500000L, s"full-agreement pair ($a,$b) with Jaccard $jacc")
    }
  }

  test("d15 incremental dedup: planted dups classify exactly; index is served from parquet") {
    val out = graft.queries.Catalog.queries("d15_incremental_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // +100000 rows are perturbed BASE docs → dups of the persisted index,
    // canonical = the base doc they were copied from
    val idxDups = out.filter(t => t._1 >= 100000L && t._1 < 200000L)
    assert(idxDups.nonEmpty)
    idxDups.foreach { case (id, v, c) =>
      assert(v === "dup_index", s"$id"); assert(c === id - 100000L, s"$id")
    }
    // +200000 rows are perturbed BATCH docs → within-batch dups,
    // canonical = the batch original (first occurrence wins)
    val batchDups = out.filter(_._1 >= 200000L)
    assert(batchDups.nonEmpty)
    batchDups.foreach { case (id, v, c) =>
      assert(v === "dup_batch", s"$id"); assert(c === id - 200000L, s"$id")
    }
    // unperturbed batch originals are new and their own canonical
    val originals = out.filter(_._1 < 100000L)
    assert(originals.nonEmpty)
    originals.foreach { case (id, v, c) =>
      assert(v === "new", s"$id"); assert(c === id, s"$id")
    }
    // the three classes partition the incoming batch completely
    assert(out.length === idxDups.length + batchDups.length + originals.length)
    // the fingerprint index is a durable layout: a second run reuses the
    // same parquet dir (build-once discipline, no base rescan per batch)
    val key = "d15_index#" + new java.io.File(sf0001).getCanonicalPath
    val dir1 = graft.io.TempLayouts.cached(key, "graft_d15_idx_")(_ => fail("index rebuilt"))
    graft.queries.Catalog.queries("d15_incremental_dedup")(spark, sf0001).collect()
    val dir2 = graft.io.TempLayouts.cached(key, "graft_d15_idx_")(_ => fail("index rebuilt"))
    assert(dir1 === dir2)
  }

  test("d16 canonical keep: total partition, one argmax keep per cluster, d05-consistent labels") {
    val got = graft.queries.Catalog.queries("d16_dedup_canonical_keep")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    // the verdict covers the WHOLE 3x cluster corpus, each doc exactly once
    val nBase = Tables(spark, sf0001).documents
      .filter(col("doc_id") % 5 === 0).count()
    assert(got.length.toLong === 3 * nBase, "verdict must partition the corpus")
    assert(got.map(_._2).distinct.length === got.length, "each doc exactly once")
    val byCluster = got.groupBy(_._1)
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_._4).distinct.toSeq === Seq(rows.length.toLong),
        s"cluster_size of $cid")
      val keeps = rows.filter(_._6 == "keep")
      assert(keeps.length === 1, s"cluster $cid must keep exactly one member")
      val kept = keeps.head
      assert(rows.forall(_._5 == kept._2), s"kept_id inconsistent in $cid")
      // keep policy: max n_words, tie-break min doc_id
      val best = rows.minBy(r => (-r._3, r._2))
      assert(kept._2 === best._2, s"cluster $cid kept ${kept._2}, policy says ${best._2}")
    }
    // planted 3-chains must collapse, and any cluster holding an original
    // keeps an original (originals dominate their truncations on words)
    assert(byCluster.exists(_._2.length >= 3), "planted truncation chains must cluster")
    byCluster.values.filter(rows => rows.length >= 2 && rows.exists(_._2 < 100000L))
      .foreach { rows =>
        assert(rows.find(_._6 == "keep").get._2 < 100000L,
          s"cluster ${rows.head._1} kept a truncation over an original")
      }
    // the labels agree with d05 on its domain (edge-connected docs);
    // d16 additionally covers singletons
    val mine = got.map(r => r._2 -> r._1).toMap
    graft.queries.Catalog.queries("d05_dedup_clusters")(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .foreach { case (doc, cl) =>
        assert(mine(doc) === cl, s"doc $doc cluster differs from d05")
      }
    assert(byCluster.exists(_._2.length == 1),
      "singletons must appear as their own kept clusters")
  }

  test("d17: planted structure resolved; every dup verdict exact-Jaccard sound; no base rescan") {
    val frame = graft.queries.Catalog.queries("d17_incremental_neardup")(spark, sf0001)
    val got = frame.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("verdict"), r.getAs[Long]("canonical_id"))).toSeq
    // planted index-dups (truncations of BASE docs): all caught, and the
    // canonical is the planted source unless a strictly-better natural
    // near-dup exists (checked below via exact Jaccard)
    val bClass = got.filter(r => r._1 >= 100000L && r._1 < 200000L)
    assert(bClass.nonEmpty && bClass.forall(_._2 == "dup_index"),
      s"planted index-dup missed: ${bClass.filter(_._2 != "dup_index")}")
    // planted batch-dups (truncations of BATCH docs): never 'new' —
    // dup_batch against their in-batch source, or dup_index when the
    // source itself has a natural near-dup in the base (index wins)
    val cClass = got.filter(_._1 >= 200000L)
    assert(cClass.nonEmpty && cClass.forall(_._2 != "new"),
      s"planted batch-dup missed: ${cClass.filter(_._2 == "new")}")
    assert(cClass.filter(_._2 == "dup_batch").forall(r => r._3 == r._1 - 200000L),
      "a dup_batch canonical is not the planted in-batch source")
    // exact STRING-shingle Jaccard soundness of every dup verdict (the
    // d02 convention: no hashing anywhere in the truth computation)
    def truncate3(s: String) = s.replaceAll("(\\s+\\S+){3}$", "")
    val baseTexts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val texts: Map[Long, String] =
      baseTexts ++
        baseTexts.collect { case (id, tx) if id % 10 == 1 => (id + 100000L, truncate3(tx)) } ++
        baseTexts.collect { case (id, tx) if id % 10 == 0 => (id + 200000L, truncate3(tx)) }
    def shingleSet(s: String): Set[String] = {
      val tk = "\\S+".r.findAllIn(s).toVector
      if (tk.length <= 5) Set(tk.mkString(" "))
      else tk.sliding(5).map(_.mkString(" ")).toSet
    }
    got.filter(_._2 != "new").foreach { case (id, verdict, canon) =>
      val (a, b) = (shingleSet(texts(id)), shingleSet(texts(canon)))
      val j = a.intersect(b).size.toDouble / a.union(b).size.toDouble
      assert(j >= 0.5, s"$verdict $id -> $canon has exact Jaccard $j < 0.5")
    }
    // incrementality: the probe plan reads the persisted index parquet —
    // base documents are never re-shingled (only `incoming` scans the
    // documents table)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("graft_d17_idx_"),
      s"d17 plan does not read the persisted index:\n${plan.take(2000)}")
  }

  /** Every node of the catalog entry `name`'s initial (pre-AQE) physical
    * plan at sf0.001, with the plan of each frame it reads from cache
    * included once. */
  private def initialPlanNodes(name: String): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case s: InMemoryTableScanExec =>
        if (seen.add(s.relation.cachedPlan)) s +: walk(s.relation.cachedPlan)
        else Seq(s)
      case other => other +: other.children.flatMap(walk)
    }
    val df: DataFrame = graft.queries.Catalog.queries(name)(spark, sf0001)
    val nodes = walk(df.queryExecution.executedPlan)
    graft.InternalCaches.releaseAll()
    nodes
  }

  test("MinHash-LSH join policy: d02, d07, d14 and d17's batch side plan every band_sig join as sort-merge") {
    def bandJoins(name: String): Seq[BaseJoinExec] = initialPlanNodes(name).collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band_sig")) => j
    }
    // d17's index probe (its build side carries idx_id) is unhinted by
    // design: it reads the persisted index, whose size is known
    val joins = Seq("d02_dedup_minhash_lsh", "d07_fuzzy_decontaminate",
      "d14_minhash_estimator").map(n => n -> bandJoins(n)) :+
      ("d17_incremental_neardup" -> bandJoins("d17_incremental_neardup")
        .filterNot(_.right.output.exists(_.name == "idx_id")))
    joins.foreach { case (name, js) =>
      assert(js.nonEmpty, s"$name: no band_sig-keyed join found")
      val other = js.filterNot(_.isInstanceOf[SortMergeJoinExec])
      assert(other.isEmpty,
        s"$name: band_sig-keyed joins not planned as sort-merge: " +
          other.map(_.nodeName).mkString(", "))
    }
  }

  test("d17 drops the batch's hot buckets once: one count over (band, band_sig)") {
    val bucketCounts = initialPlanNodes("d17_incremental_neardup").collect {
      case a: BaseAggregateExec
          if a.groupingExpressions.map(_.name) == Seq("band", "band_sig") &&
            a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(bucketCounts.size === 1,
      s"d17 counts its batch buckets ${bucketCounts.size} times")
  }
}
