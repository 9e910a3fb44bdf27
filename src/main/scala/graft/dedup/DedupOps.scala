package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.Tables
import graft.functions.TextFunctions._
import graft.queries.GraftQuery

/** Deduplication operators for the training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  * (Embedding-cosine near-dup lives in graft.similarity.)
  *
  * The driver's `documents` table has no natural duplicates, so the fuzzy
  * dedup queries run over a deterministic derived corpus: each document
  * unioned with a perturbed copy (id + 100000). Whitespace perturbation
  * demonstrates exact/normalized dedup; last-3-words truncation
  * demonstrates near-dup detection. This keeps outputs non-empty and
  * verifiable while exercising exactly the plan shape a real corpus needs.
  *
  * Scale design (100 TB corpus): every stage is shuffle-bounded by
  * (band, signature) or (block, bits) keys — never an all-pairs product.
  * Bucket-size capping drops degenerate buckets (a stop-word-like
  * signature at scale would otherwise create a quadratic bucket); the cap
  * turns worst-case O(n²) into O(n·cap). Candidate verification re-joins
  * the shingle sets only for candidate pairs.
  */
object DedupOps {

  /** MinHash parameters: k hashes in b bands of r rows (k = b·r). */
  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = 4
  /** Words per shingle. */
  private[graft] val ShingleWords = 5
  /** Max docs per LSH bucket before it is dropped as degenerate. */
  private val MaxBucket = 64

  // Universal-hash coefficients live with the native expression
  // (graft.functions.expressions.MinHashSignature, seed 42).

  /** d15/d17's planted-id convention: batch copies take +100000/+200000
    * offsets, and the ORACLE splits index vs batch rows on
    * `doc_id < 100000`. That bound is part of the declared semantics —
    * a corpus whose ids reach it would silently misclassify sides and
    * collide planted ids with real ones — so entries that ride the
    * convention assert it LOUDLY here instead. One max() over the
    * doc-id column, checked once per (entry, dir) per JVM. Every planted
    * corpus below and every oracle that replays one reads this offset. */
  private val PlantOffset = 100000L
  private val idSpaceChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def assertPlantIdSpace(docs: DataFrame, key: String): Unit =
    if (!idSpaceChecked.contains(key)) {
      val head = docs.agg(max(col("doc_id"))).head
      // empty / all-null id column → nothing planted can collide
      val mx = if (head.isNullAt(0)) Long.MinValue else head.getLong(0)
      require(mx < PlantOffset,
        s"planted-id convention requires max(doc_id) < $PlantOffset, got " +
          s"$mx — raise the offset (and the oracle's id-space split) together")
      idSpaceChecked.add(key)
    }

  /** A whitespace-perturbed copy of `text`: equal to it after
    * normalization. */
  private val spaced: Column = concat(regexp_replace(col("text"), " ", "  "), lit(" "))

  /** The oracle's [[spaced]]. */
  private val spacedSql = "replace(text, ' ', '  ') || ' '"

  /** `text` without its last `n` words. */
  private def truncated(n: Int): Column =
    regexp_replace(col("text"), s"(\\s+\\S+){$n}$$", "")

  /** The oracle's [[truncated]]. */
  private def truncatedSql(n: Int): String = raw"regexp_replace(text, '(\s+\S+){$n}$$', '')"

  /** documents ∪ whitespace-perturbed copies — equal after normalization. */
  def exactDupCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select(
        (col("doc_id") + lit(PlantOffset)).as("doc_id"), spaced.as("text")))

  /** The oracle's twin of [[exactDupCorpus]], as CTE `corpus` (d01, d13,
    * t13). */
  private[graft] val exactDupCorpusSql: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset AS doc_id, $spacedSql AS text FROM documents)""".stripMargin

  /** documents ∪ last-3-words-truncated copies — near-dups (word-shingle
    * Jaccard ≈ 0.9), not exact dups. */
  def nearDupCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select(
        (col("doc_id") + lit(PlantOffset)).as("doc_id"), truncated(3).as("text")))

  /** The oracle's twin of [[nearDupCorpus]], as CTE `cte` (d02, d04, d14,
    * p02). */
  private[graft] def nearDupCorpusSql(cte: String): String =
    s"""$cte AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset AS doc_id,
       |         ${truncatedSql(3)} AS text
       |  FROM documents)""".stripMargin

  /** Every 5th document ∪ two successive truncations (3 and 6 trailing
    * words) keeping `source` — a corpus whose near-dup PAIR graph forms
    * 3-node chains, so clustering (d05) has real transitive closures to
    * find. The 1-in-5 restriction keeps the oracle's block-local exact
    * pair computation proportionate; the cluster algorithm itself is the
    * scale path (see [[ConnectedComponents]]). */
  def clusterCorpus(docs: DataFrame): DataFrame = {
    val sub = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("source"), col("text"))
    sub
      .unionByName(sub.select(
        (col("doc_id") + lit(PlantOffset)).as("doc_id"), col("source"),
        truncated(3).as("text")))
      .unionByName(sub.select(
        (col("doc_id") + lit(2 * PlantOffset)).as("doc_id"), col("source"),
        truncated(6).as("text")))
  }

  /** The oracle's twin of [[clusterCorpus]], as CTEs `base` and
    * `corpus` (d05, d07, d16). */
  private val clusterCorpusSql: String =
    s"""base AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0),
       |corpus AS (
       |  SELECT doc_id, source, text FROM base
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset, source, ${truncatedSql(3)} FROM base
       |  UNION ALL
       |  SELECT doc_id + ${2 * PlantOffset}, source, ${truncatedSql(6)} FROM base)""".stripMargin

  /** d15/d17's incoming batch (doc_id, text): the held-out 1/5 of
    * `docs`, plus planted index-dups (`copy` of base docs, id +
    * PlantOffset) and within-batch dups (`copy` of batch docs, id +
    * 2·PlantOffset). */
  private def plantedBatch(docs: DataFrame, copy: Column): DataFrame =
    docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + lit(PlantOffset)).as("doc_id"), copy.as("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(2 * PlantOffset)).as("doc_id"), copy.as("text")))

  /** The oracle's twin of [[plantedBatch]], as CTE `cte`, with `copy`
    * the oracle's form of the batch's perturbation (d15, d17). */
  private def plantedBatchSql(cte: String, copy: String): String =
    s"""$cte AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset AS doc_id, $copy AS text
       |  FROM documents WHERE doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + ${2 * PlantOffset} AS doc_id, $copy AS text
       |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Exact word-5-shingle Jaccard pairs ≥ `threshold` within `source`
    * blocks — the deterministic (oracle-able) edge generator for the
    * clustering demo. Same shape as d03: hashed sorted shingle sets,
    * block cap, O(n+m) merge intersect per candidate pair. */
  def shingleJaccardEdges(corpus: DataFrame, threshold: Double): DataFrame = {
    // The shingled frame is persisted (round-14, guide §2.4): capBlocks
    // references its input twice (count aggregate + semi-join) and the
    // block self-join references the capped frame in BOTH arms — left
    // lazy, the corpus-wide regex + word_ngram_hashes pass re-ran up to
    // four times per materialization (measured warm: d05 3.5 → 2.1 s).
    // Both frames are tiny relative to text (ids + hash arrays).
    val shingled = cached(
      corpus
        .withColumn("gh",
          call_function("word_ngram_hashes", col("text"), lit(ShingleWords)))
        .select(col("doc_id"), col("source"), col("gh"), size(col("gh")).as("n")))
    val g = cached(capBlocks(shingled, Seq("source"), MaxBlock))
    val a = g.select(col("source"), col("doc_id").as("src"),
      col("gh").as("g_a"), col("n").as("n_a"))
    val b = g.select(col("source"), col("doc_id").as("dst"),
      col("gh").as("g_b"), col("n").as("n_b"))
    a.join(b, Seq("source"))
      .filter(col("src") < col("dst"))
      .withColumn("inter", call_function("sorted_intersect_size", col("g_a"), col("g_b")))
      .filter(jaccard("n_a", "n_b") >= threshold)
      .select(col("src"), col("dst"))
  }

  /** Persist a frame that more than one branch reads, and register it
    * with [[graft.InternalCaches]]: a long-lived session calls
    * `InternalCaches.releaseAll()` after consuming a result to drop these
    * without touching its own caches. In the MinHash-LSH pipeline the
    * persist is also an optimizer barrier — without it CollapseProject
    * inlines the shingle expression into all 32 minhash lambdas and the
    * 8 band slices, multiplying both per-row compute and plan size. */
  private def cached(df: DataFrame): DataFrame =
    graft.InternalCaches.track(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Exact Jaccard from the shared-gram count `inter` and the two set
    * sizes: inter / (n_a + n_b - inter). */
  private def jaccard(nA: String, nB: String): Column =
    col("inter").cast("double") / (col(nA) + col(nB) - col("inter")).cast("double")

  // ---------------------------------------------------------------------
  // The MinHash-LSH pipeline (d02, d07, d14, d17, p02), one function per
  // stage: shingle → sign ([[signed]]), band ([[banded]]), drop hot
  // buckets ([[dropHotBuckets]]), candidates ([[selfCandidates]] /
  // [[crossCandidates]]), exact-Jaccard verify ([[verified]]). The SQL
  // twins of each stage sit with [[minhashBandSqlOver]].

  /** doc_id + sorted distinct word-5-shingle HASH set via the native
    * one-pass [[graft.functions.expressions.WordNgramMd5Hashes]] —
    * gram = 5 tokens joined by one space, hash = md5 first-8-bytes, the
    * ENGINE-PORTABLE family (t04/s02/d04 discipline) that lets the
    * whole MinHash-LSH pipeline (d02) carry a DuckDB oracle: the other
    * engine recomputes every gram hash as
    * `md5(array_to_string(tokens[i:i+4], ' '))`. No shingle strings are
    * materialized engine-side (token ranges feed the digest directly);
    * downstream Jaccard verification runs on the sorted hash sets via
    * the native O(n+m) merge. Values equal string-shingle Jaccard
    * modulo 64-bit collisions (negligible). The test-scope
    * `graft.HofReference.shingledHof` remains the HOF cross-check for the
    * xxhash64 family still used by d05's edge generator
    * ([[shingleJaccardEdges]]). */
  private def shingled(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      call_function("word_ngram_md5_hashes", col("text"), lit(ShingleWords))
        .as("shingles"))

  /** MinHash signature over the shingle hashes via the native one-pass
    * k-permutation expression
    * ([[graft.functions.expressions.MinHashSignature]]) — O(k·|S|)
    * primitive ops per row with no per-permutation array recompute. */
  private def withSignature(sh: DataFrame): DataFrame =
    sh.withColumn("minhash",
      call_function("minhash_signature", col("shingles"), lit(NumHashes)))

  /** Stage 1, shingle → sign: a corpus's persisted shingle frame
    * (doc_id, shingles) and persisted signature frame (doc_id, shingles,
    * minhash). The shingles feed two branches (signatures and the
    * exact-Jaccard verify), the signatures feed the bands and d14's
    * agreement count. */
  private def signed(corpus: DataFrame): (DataFrame, DataFrame) = {
    val sh = cached(shingled(corpus))
    (sh, cached(withSignature(sh)))
  }

  /** Explode the signature into (band, band_sig) LSH keys. The band key
    * is the RAW RowsPerBand-tuple of minhash values, not a hash of it:
    * equality is then exactly tuple equality (no 32-bit hash collision
    * can smuggle extra candidates in), and — since the minhash values
    * are already engine-portable — the d02 oracle replays the banding
    * verbatim. A 4-long array key costs 32 bytes per row in the shuffle
    * vs 4 for a hash; band rows are signature-scale, not data-scale, so
    * the collision-freeness is worth more than the bytes. */
  private def banded(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map(i =>
      slice(col("minhash"), i * RowsPerBand + 1, RowsPerBand))
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
  }

  /** Stage 2: drop every LSH bucket with more than [[MaxBucket]]
    * members, whole — one count on (band, band_sig) and a semi-join; no
    * row data moves for the dropped buckets. `bands` is any frame keyed
    * by (band, band_sig).
    *
    * MERGE-hinted (round 15, the d08 policy): the band space is
    * unbounded, so the kept-bucket list is corpus-proportional, and its
    * size estimate runs through agg+filter over a posexplode — both of
    * which understate (d08's measured failure class: the 64 MB gate
    * picked a corpus-sized broadcast build at the 500k-doc sweep tier).
    * The list arrives hash-clustered on (band, band_sig) from the count
    * shuffle, so the pin costs a sort, not an extra exchange, and
    * sort-merge spills where a broadcast build would collapse the
    * driver. */
  private def dropHotBuckets(bands: DataFrame): DataFrame =
    bands.join(
      bands.groupBy(col("band"), col("band_sig"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= MaxBucket)
        .select(col("band"), col("band_sig")).hint("merge"),
      Seq("band", "band_sig"), "left_semi")

  /** Stage 3 within one corpus: the distinct (doc_a < doc_b) pairs that
    * share a bucket of `kept` (doc_id, band, band_sig), hot buckets
    * already dropped. MERGE: both sides are the corpus-proportional
    * band frame ([[dropHotBuckets]]' note). */
  private def selfCandidates(kept: DataFrame): DataFrame = {
    val a = kept.select(col("band"), col("band_sig"), col("doc_id").as("doc_a"))
    val b = kept.select(col("band"), col("band_sig"), col("doc_id").as("doc_b"))
    a.join(b.hint("merge"), Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Stage 3 across two corpora: the distinct (left id, right id) pairs
    * sharing a bucket, from two frames of (id, band, band_sig) with
    * their hot buckets already dropped. MERGE: both corpora are
    * unbounded ([[dropHotBuckets]]' note). */
  private def crossCandidates(left: DataFrame, right: DataFrame): DataFrame =
    left.join(right.hint("merge"), Seq("band", "band_sig"))
      .drop("band", "band_sig")
      .distinct()

  /** Candidate pairs of one corpus's bands: [[dropHotBuckets]] then
    * [[selfCandidates]] (d02, d14, p02). */
  private def candidatePairs(bands: DataFrame): DataFrame =
    selfCandidates(dropHotBuckets(bands))

  /** Stage 4: exact-Jaccard verify. Joins each candidate pair's `idA`
    * and `idB` to their shingle sets in `shA` / `shB` (as sh_a/n_a,
    * sh_b/n_b), adds the shared-gram count `inter` and [[jaccard]], and
    * keeps the pairs at or above `threshold`.
    *
    * MERGE on both joins (round 15, measured): at the 500k-doc sweep
    * tier the planner picked BuildRight broadcasts of the persisted
    * shingle frames (plans/r15-scale/d02_dedup_minhash_lsh_500k_before.txt
    * — every join in the entry was a corpus-sized-build BHJ; single run
    * 236 s), so "the cache's accurate stats will demote it" is
    * empirically false here. */
  private def verified(cand: DataFrame, idA: String, shA: DataFrame,
      idB: String, shB: DataFrame, threshold: Double): DataFrame =
    cand
      .join(shA.select(col("doc_id").as(idA), col("shingles").as("sh_a"),
        size(col("shingles")).as("n_a")).hint("merge"), Seq(idA))
      .join(shB.select(col("doc_id").as(idB), col("shingles").as("sh_b"),
        size(col("shingles")).as("n_b")).hint("merge"), Seq(idB))
      .withColumn("inter", call_function("sorted_intersect_size", col("sh_a"), col("sh_b")))
      .withColumn("jaccard", jaccard("n_a", "n_b"))
      .filter(col("jaccard") >= threshold)

  /** Max docs per blocking key for the block-local all-pairs operators
    * (d03 / s04). Far above every block in the test data (max 250), so
    * outputs are unchanged here; at 100 TB a hot blocking key (a "web"
    * source, a dense embedding label) would otherwise make the self-join
    * quadratic. Capped blocks are dropped whole, same policy as
    * [[MaxBucket]] — O(n·cap) worst case. */
  val MaxBlock = 1024

  /** Semi-join `df` against its blocking keys with ≤ `cap` members —
    * the degenerate-block guard shared by d03/s04. One extra aggregate
    * on the blocking key; no row data moves for the dropped blocks. */
  def capBlocks(df: DataFrame, blockCols: Seq[String], cap: Int): DataFrame = {
    val small = df
      .groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("block_n"))
      .filter(col("block_n") <= cap)
      .select(blockCols.map(col): _*)
    df.join(small, blockCols, "left_semi")
  }

  /** Full MinHash-LSH near-dup pipeline over a (doc_id, text) corpus
    * (d02, p02): [[signed]] → [[banded]] → [[candidatePairs]] (hot-bucket
    * drop + self-candidates) → [[verified]], one row per pair with exact
    * shingle Jaccard ≥ `threshold`. */
  def minhashNearDups(corpus: DataFrame, threshold: Double): DataFrame = {
    val (sh, sig) = signed(corpus)
    verified(candidatePairs(banded(sig)), "doc_a", sh, "doc_b", sh, threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Two-sided MinHash-LSH join — fuzzy decontamination: match each
    * `train` doc against the `eval` corpus by estimated Jaccard without
    * an all-pairs product (t14 catches exact n-gram overlap; a
    * lightly-edited eval document slips past it, this catches it).
    * Both sides sign and band independently and drop their own hot
    * buckets ([[dropHotBuckets]] — a hot signature on either side would
    * otherwise go quadratic); [[crossCandidates]] pairs them and
    * [[verified]] checks exact shingle-hash Jaccard. One row per
    * contaminated train doc with its match count and strongest eval
    * match (argmax as a partial-aggregating max(struct), no window).
    *
    * Scale: shuffles are keyed by (band, band_sig) and doc ids only;
    * the shingle frames persist once per side and serve both the
    * banding and the verification branches. */
  def minhashCrossMatches(train: DataFrame, eval: DataFrame,
      threshold: Double): DataFrame = {
    val (shT, sigT) = signed(train)
    val (shE, sigE) = signed(eval)
    def kept(sig: DataFrame, idAs: String): DataFrame =
      dropHotBuckets(banded(sig).withColumnRenamed("doc_id", idAs))
    verified(crossCandidates(kept(sigT, "train_id"), kept(sigE, "eval_id")),
        "train_id", shT, "eval_id", shE, threshold)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max(struct(col("jaccard"), (-col("eval_id")).as("neg_id"))).as("best"))
      .select(col("train_id"), col("n_eval_matches"),
        (-col("best").getField("neg_id")).as("best_eval_id"),
        col("best").getField("jaccard").as("best_jaccard"))
      .orderBy(col("train_id"))
  }

  /** SimHash as ONE long per document (native codegen'd
    * [[graft.functions.expressions.SimHash64]]): Hamming distance becomes
    * `bit_count(a ^ b)` and the LSH blocks are 16-bit slices of the long —
    * no per-row arrays survive into the shuffle. */
  /** Per-doc 64-bit SimHash over distinct whitespace tokens. Token hash
    * family is the ENGINE-PORTABLE md5 prefix (`md5_prefix64`) — the
    * same bits DuckDB reads with `CAST('0x' || substr(md5(t),1,16) AS
    * UBIGINT)` — which is what lets d04 carry a full oracle (the t04 /
    * s02 discipline); the signature fold is the native majority-bit
    * expression (`simhash64`). */
  def simhashSignature(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", tokens(col("text")))
      .withColumn("th",
        transform(array_distinct(col("toks")),
          t => call_function("md5_prefix64", t)))
      .withColumn("sig", call_function("simhash64", col("th")))
      .select(col("doc_id"), col("sig"))

  /** Hamming-≤-`maxHamming` pairs over any (id, 64-bit signature) frame
    * via 4×16-bit block LSH — exhaustive for maxHamming ≤ 3 by
    * pigeonhole (4 blocks, ≤3 differing bits → some block is equal)
    * WHEN no block is dropped. Candidate generation is an equi-join on
    * (block, value); exact Hamming re-verifies with popcount-of-xor.
    * Shared by text SimHash (d04) and perceptual image hashing (m03) —
    * identical plan shape, one long per row into the shuffle.
    *
    * Hot-block cap (round 13 — found by the 1M-row VecScale decade, not
    * guessed): a DEGENERATE block value (an identical-signature cluster,
    * or a skewed corpus whose signatures concentrate) makes the
    * (block, value) self-join quadratic — this was the ONE banding
    * family member without the [[MaxBlock]] guard, and at 500k docs it
    * took the whole JVM down (driver starved >10 min → executor
    * heartbeat death). Blocks with more than `cap` members are dropped
    * WHOLE before the join — the d02/d03/d07/d12/s04 policy — turning
    * worst case O(n²) into O(n·cap). Recall cost is confined to pairs
    * ALL of whose ≤3-difference blocks are hot (an identical-signature
    * mega-cluster is exactly the case a dedup pipeline handles by exact
    * hash (d01) first); the d04 oracle replays the drop in SQL so the
    * cap is value-verified, not just bounded. */
  def hamming64Pairs(sig: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, cap: Int = MaxBlock): DataFrame = {
    val blockCols = (0 until 4).map(k =>
      shiftright(col(sigCol), k * 16).bitwiseAND(lit(0xFFFFL)))
    val blocksAll = sig.select(col(idCol), col(sigCol), posexplode(array(blockCols: _*)))
      .withColumnRenamed("pos", "block")
      .withColumnRenamed("col", "block_val")
    val blocks = capBlocks(blocksAll, Seq("block", "block_val"), cap)
    val a = blocks.select(col("block"), col("block_val"),
      col(idCol).as("doc_a"), col(sigCol).as("sig_a"))
    val b = blocks.select(col("block"), col("block_val"),
      col(idCol).as("doc_b"), col(sigCol).as("sig_b"))
    // MERGE: both sides are the 4×-exploded signature corpus
    // (dropHotBuckets' note — the cap bounds each BLOCK, not the frame,
    // and the explode's size estimate undershoots). The capBlocks semi
    // above is left alone: its build side is the distinct key list,
    // bounded by the 4×2^16 block-value space.
    a.join(b.hint("merge"), Seq("block", "block_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dups: 4×16-bit block LSH + exact Hamming re-check. */
  def simhashNearDups(corpus: DataFrame, maxHamming: Int): DataFrame =
    hamming64Pairs(cached(simhashSignature(corpus)), "doc_id", "sig", maxHamming)

  /** Shared DuckDB replay of the shingle→minhash→band chain over a
    * preceding `corpus(doc_id, text)` CTE — the SQL twin of
    * [[shingled]] → [[withSignature]] → [[banded]], used by the d02,
    * d07, d14, d17 and p02 oracles. The universal-hash coefficients are
    * interpolated as a VALUES table: they are driver-side constants
    * published as part of the engine spec (seed 42), not data-dependent
    * randomness. Emits
    * CTE bodies `toks, pos, grams, hs, coeff, mh, sigl, bands`;
    * `grams` doubles as the exact-Jaccard verification input. */
  private[graft] def minhashBandSql: String = minhashBandSqlOver("corpus")

  /** [[minhashBandSql]] with the input CTE name parameterized (p02 runs
    * the chain over the pipeline's exact-dedup SURVIVORS, not a CTE
    * named `corpus`). */
  private[graft] def minhashBandSqlOver(corpusCte: String): String = {
    val (ca, cb) = graft.functions.expressions.MinHashSignature
      .coefficients(NumHashes)
    val coeffRows = (0 until NumHashes)
      .map(j => s"(${j}, ${ca(j)}, ${cb(j)})").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk FROM $corpusCte),
       |pos AS (
       |  SELECT doc_id, tk,
       |         CAST(unnest(range(1, greatest(len(tk) - ${ShingleWords - 1}, 1) + 1)) AS INT) AS i
       |  FROM toks),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |         CAST('0x' || substr(md5(array_to_string(tk[i:i+${ShingleWords - 1}], ' ')), 1, 16)
       |              AS UBIGINT) AS h
       |  FROM pos),
       |hs AS (
       |  SELECT doc_id,
       |         ((CASE WHEN h >= 9223372036854775808::UBIGINT
       |                THEN CAST(h AS HUGEINT) - 18446744073709551616::HUGEINT
       |                ELSE CAST(h AS HUGEINT) END % 2147483647)
       |          + 2147483647) % 2147483647 AS hm
       |  FROM grams),
       |coeff(j, a, b) AS (VALUES $coeffRows),
       |mh AS (
       |  SELECT doc_id, coeff.j, CAST(min((coeff.a * hm + coeff.b) % 2147483647) AS BIGINT) AS v
       |  FROM hs CROSS JOIN coeff
       |  GROUP BY doc_id, coeff.j),
       |sigl AS (
       |  SELECT doc_id, list(v ORDER BY j) AS mhl FROM mh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, bb.b AS band,
       |         array_to_string(mhl[CAST(${RowsPerBand} * bb.b + 1 AS INT)
       |                             :CAST(${RowsPerBand} * bb.b + ${RowsPerBand} AS INT)], ',') AS bkey
       |  FROM sigl CROSS JOIN range(0, ${Bands}) bb(b)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id)""".stripMargin
  }

  /** The SQL twin of [[dropHotBuckets]]: CTE `out` holds the rows of
    * band CTE `bands` (doc_id, band, bkey) whose bucket has at most
    * [[MaxBucket]] members. */
  private[graft] def keptBucketsSql(out: String, bands: String): String =
    s"""$out AS (
       |  SELECT $bands.* FROM $bands JOIN (
       |    SELECT band, bkey FROM $bands GROUP BY band, bkey
       |    HAVING count(*) <= $MaxBucket) k USING (band, bkey))""".stripMargin

  /** The SQL twin of [[selfCandidates]]: CTE `out(doc_a, doc_b)` holds
    * the distinct doc_a < doc_b pairs sharing a bucket of CTE `kept`. */
  private[graft] def selfCandidatesSql(out: String, kept: String): String =
    s"""$out AS (
       |  SELECT DISTINCT pa.doc_id AS doc_a, pb.doc_id AS doc_b
       |  FROM $kept pa
       |  JOIN $kept pb ON pa.band = pb.band AND pa.bkey = pb.bkey
       |                AND pa.doc_id < pb.doc_id)""".stripMargin

  /** The SQL twin of [[verified]]: CTE `inter` counts the gram hashes
    * each pair (`a`, `b`) of CTE `cand` shares, and CTE
    * `out(a, b, jaccard)` keeps the pairs with exact Jaccard ≥
    * `threshold`. Reads `grams` and `sizes` from [[minhashBandSqlOver]]. */
  private[graft] def verifySql(inter: String, out: String, cand: String,
      a: String, b: String, threshold: Double): String =
    s"""$inter AS (
       |  SELECT c.$a, c.$b, count(*) AS inter
       |  FROM $cand c
       |  JOIN grams ga ON ga.doc_id = c.$a
       |  JOIN grams gb ON gb.doc_id = c.$b AND gb.h = ga.h
       |  GROUP BY c.$a, c.$b),
       |$out AS (
       |  SELECT i.$a, i.$b,
       |         CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
       |  FROM $inter i
       |  JOIN sizes sa ON sa.doc_id = i.$a
       |  JOIN sizes sb ON sb.doc_id = i.$b
       |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= $threshold)""".stripMargin

  /** The self-join half of the d02 replay over the chain emitted by
    * [[minhashBandSqlOver]] — the SQL twin of [[candidatePairs]] then
    * [[verified]]: CTEs `pruned` (hot buckets dropped), `cand`, `inter`
    * and `pairs(doc_a, doc_b, jaccard)`, the verified ≥ `threshold`
    * pairs. Shared by the d02 and p02 oracles. */
  private[graft] def minhashPairSql(threshold: Double): String =
    Seq(keptBucketsSql("pruned", "bands"), selfCandidatesSql("cand", "pruned"),
      verifySql("inter", "pairs", "cand", "doc_a", "doc_b", threshold)).mkString(",\n")

  /** The cluster-label replay chain shared by the d05 and d16 oracles
    * (base → corpus → sh → edges → recursive cc → lbl): the 1-in-5
    * truncation corpus ([[clusterCorpusSql]]), exact word-5-shingle
    * Jaccard pair edges, and the transitive closure labelled by
    * component-minimum doc_id. Factored so the two entries' clustering
    * semantics cannot drift. Must be preceded by `WITH RECURSIVE`. */
  private[dedup] val clusterLabelSql: String =
    clusterCorpusSql + ",\n" + raw"""sh AS (
      |  SELECT doc_id, source,
      |         list_distinct([array_to_string(ws[i:i+4], ' ')
      |                        FOR i IN range(1, greatest(len(ws) - 3, 2))]) AS grams
      |  FROM (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS ws FROM corpus)),
      |edges AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.5),
      |sym AS (SELECT src AS u, dst AS v FROM edges UNION SELECT dst, src FROM edges),
      |cc AS (
      |  SELECT u, u AS l FROM (SELECT DISTINCT u FROM sym) nodes
      |  UNION
      |  SELECT s.u, c.l FROM sym s JOIN cc c ON c.u = s.v),
      |lbl AS (SELECT u AS doc_id, min(l) AS cluster_id FROM cc GROUP BY u)""".stripMargin

  /** d12's inverted-index hot-gram cap: grams with df above this are
    * not index keys (df=1 grams cannot form a pair and are skipped
    * too). Bounds candidate volume at Σ df² like d02's MaxBucket
    * bounds bucket joins; a doc ALL of whose grams are hotter is the
    * declared boilerplate-miss class. Interpolated into the oracle so
    * the two sides cannot drift. */
  private[dedup] val RareDfCap = 50

  val all: Seq[GraftQuery] = Seq(
    // ------------------------------------------------------------------
    // d01: exact dedup = hash-groupBy on the normalized content
    // fingerprint (one shuffle on the fingerprint key; at 100 TB this is
    // the cheapest possible exact-dedup plan — no pairwise work).
    GraftQuery(
      "d01_dedup_exact",
      "exact dedup groups by normalized-content fingerprint (corpus = docs ∪ whitespace-perturbed)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        exactDupCorpus(t.documents)
          .select(col("doc_id"), contentFingerprint(col("text")).as("fingerprint"))
          .groupBy(col("fingerprint"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_cnt"))
          .select(col("canonical_id"), col("dup_cnt"), col("fingerprint"))
          .orderBy(col("canonical_id"))
      },
      Some(
        "WITH " + exactDupCorpusSql + ",\n" +
        """fp AS (
          |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
          |  FROM corpus)
          |SELECT min(doc_id) AS canonical_id, count(*) AS dup_cnt, fingerprint
          |FROM fp
          |GROUP BY fingerprint
          |ORDER BY canonical_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d02: MinHash+LSH near-dup detection (shingle→minhash→band→
    // bucket-join→verify). FULLY ORACLED: the gram hashes are the
    // engine-portable md5 family, the universal-hash coefficients are
    // published driver constants (interpolated into the SQL as a VALUES
    // table — they are part of the engine spec, seed 42), and the band
    // key is the raw 4-tuple — so DuckDB replays the ENTIRE pipeline
    // end to end: shingle hashes, the 32 (a·h+b mod p) minhash minima,
    // the 8-band bucketing with the hot-bucket drop, the
    // candidate self-join, and the exact-Jaccard verification — each
    // stage from the same builder pair as d07, d14, d17 and p02. The two
    // engines share only the algorithm description, not one line of
    // execution machinery. The ScalaTest additionally asserts recovery
    // of every planted near-dup pair and corpus-wide soundness against
    // STRING-shingle Jaccard (no hashing at all).
    GraftQuery(
      "d02_dedup_minhash_lsh",
      "MinHash+LSH near-dup pairs with exact-Jaccard verification (md5 gram hashes, fully oracled)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        minhashNearDups(nearDupCorpus(t.documents), threshold = 0.5)
      },
      Some(
        s"""WITH ${nearDupCorpusSql("corpus")},
          |$minhashBandSql,
          |${minhashPairSql(0.5)}
          |SELECT doc_a, doc_b, jaccard FROM pairs
          |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d03: exact n-gram Jaccard similarity, blocked by the `source`
    // column (the blocking key bounds the pairwise work; at scale the
    // blocking key is what you have — LSH, source, URL host...).
    // Jaccard is a ratio of two exact ints → bit-identical double in
    // both engines → fully oracle-checked.
    GraftQuery(
      "d03_dedup_ngram_jaccard",
      "top-20 most-similar doc pairs by char-8-gram Jaccard within source blocks",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // grams hashed to sorted distinct longs (native one-pass
        // char_ngram_hashes — no gram strings, no interpreted lambdas):
        // the per-pair work is one O(n+m) sorted merge in codegen
        // (sorted_intersect_size). Values are identical to string-set
        // Jaccard modulo 64-bit hash collisions (probability ~1e-9
        // across this corpus).
        val g = capBlocks(
          t.documents
            .withColumn("gh", call_function("char_ngram_hashes", col("text"), lit(8)))
            .select(col("doc_id"), col("source"), col("gh"),
              size(col("gh")).as("n")),
          Seq("source"), MaxBlock)
        val a = g.select(col("source"), col("doc_id").as("doc_a"),
          col("gh").as("g_a"), col("n").as("n_a"))
        val b = g.select(col("source"), col("doc_id").as("doc_b"),
          col("gh").as("g_b"), col("n").as("n_b"))
        a.join(b, Seq("source"))
          .filter(col("doc_a") < col("doc_b"))
          .withColumn("inter", call_function("sorted_intersect_size", col("g_a"), col("g_b")))
          .select(col("doc_a"), col("doc_b"), jaccard("n_a", "n_b").as("jaccard"))
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some(
        """WITH g AS (
          |  SELECT doc_id, source,
          |         list_distinct([text[i:i+7] FOR i IN range(1, greatest(length(text)-6, 2))]) AS grams
          |  FROM documents)
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          |         / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
          |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
          |ORDER BY jaccard DESC, doc_a, doc_b
          |LIMIT 20""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d04: SimHash near-dup pairs — FULLY ORACLED since the md5 token
    // hash family: DuckDB rebuilds every signature independently
    // (UBIGINT bit arithmetic: per-bit majority over the distinct
    // tokens' md5-prefix hashes, bit_or-assembled) and takes the DIRECT
    // quadratic pair join, which must equal the engine's 4×16-bit-block
    // LSH because the blocking is EXHAUSTIVE for Hamming ≤ 3 by
    // pigeonhole — the oracle checks the algorithmic equivalence, not a
    // replay of the same plan.
    GraftQuery(
      "d04_dedup_simhash",
      "SimHash(64-bit, md5 token hashes) near-dup pairs via 16-bit-block LSH (fully oracled)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        simhashNearDups(nearDupCorpus(t.documents), maxHamming = 3)
      },
      Some(
        // raw-interpolated so the engine's ACTUAL hot-block cap
        // (MaxBlock) lands in the oracle — a hardcoded 1024 would
        // silently diverge engine and oracle if the cap ever changed
        // (round-14 advisory)
        raw"""WITH ${nearDupCorpusSql("corpus")},
          |tok AS (
          |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS t
          |  FROM corpus),
          |h AS (
          |  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS h
          |  FROM tok),
          |bits AS (
          |  SELECT doc_id, b.b,
          |         CASE WHEN 2 * sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE 0 END)
          |                   >= count(*)
          |              THEN 1 ELSE 0 END AS bit
          |  FROM h CROSS JOIN range(0, 64) b(b)
          |  GROUP BY doc_id, b.b),
          |sig AS (
          |  SELECT doc_id,
          |         bit_or(CASE WHEN bit = 1 THEN 1::UBIGINT << b ELSE 0::UBIGINT END) AS sig
          |  FROM bits GROUP BY doc_id),
          |-- the engine's 4x16-bit block LSH WITH its hot-block drop
          |-- (blocks over ${MaxBlock} members are dropped whole) replayed
          |-- exactly: candidate pairs come only from kept blocks
          |blk AS (
          |  SELECT doc_id, sig, k.k AS block,
          |         (sig >> (16 * k.k)) & 65535::UBIGINT AS block_val
          |  FROM sig CROSS JOIN range(0, 4) k(k)),
          |kept AS (
          |  SELECT doc_id, sig, block, block_val
          |  FROM blk
          |  QUALIFY count(*) OVER (PARTITION BY block, block_val) <= ${MaxBlock})
          |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          |FROM kept a JOIN kept b
          |  ON a.block = b.block AND a.block_val = b.block_val
          | AND a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sig, b.sig)) <= 3
          |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d05: duplicate CLUSTERS — the transitive closure of the near-dup
    // pair graph via alternating large-star/small-star connected
    // components (Kiveris et al. 2014). cluster_id = min doc_id in the
    // component = the canonical survivor; the edge generator is exact
    // shingle Jaccard (deterministic), so the whole thing carries a full
    // oracle: DuckDB reproduces the closure with a recursive CTE.
    GraftQuery(
      "d05_dedup_clusters",
      "near-dup pairs → duplicate clusters (distributed connected components, canonical = min id)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val edges = shingleJaccardEdges(clusterCorpus(t.documents), threshold = 0.5)
        val assign = ConnectedComponents.components(edges)
        val sizes = assign.groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"))
        assign.join(sizes, Seq("component"))
          .select(col("component").as("cluster_id"), col("node").as("doc_id"),
            col("cluster_size"))
          .orderBy(col("cluster_id"), col("doc_id"))
      },
      Some(
        "WITH RECURSIVE " + clusterLabelSql + "\n" +
        """SELECT l.cluster_id, l.doc_id, s.cluster_size
          |FROM lbl l
          |JOIN (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id) s
          |  USING (cluster_id)
          |ORDER BY cluster_id, doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d07: fuzzy decontamination — the two-sided LSH join. Train side =
    // the planted truncations of the cluster corpus (ids ≥ 100000),
    // eval side = the originals; every train doc is a light edit of an
    // eval doc, exactly the case exact-overlap decontamination (t14)
    // exists to catch but can miss under edits. FULLY ORACLED via the
    // same md5-family replay as d02 (shared minhashBandSql chain and
    // stage builders):
    // DuckDB rebuilds both sides' signatures, bands each side, drops
    // each side's hot buckets independently, joins, verifies exact
    // Jaccard, and mirrors the argmax tie-break (jaccard desc, eval_id
    // asc). DedupSpec additionally proves reported Jaccards against
    // exact STRING-shingle values and full recall on the planted
    // structure.
    GraftQuery(
      "d07_fuzzy_decontaminate",
      "two-sided MinHash-LSH join: train docs matched to eval docs at Jaccard >= 0.5 (md5 gram hashes, fully oracled)",
      (spark, dir) => {
        val corpus = clusterCorpus(Tables(spark, dir).documents)
        minhashCrossMatches(
          corpus.filter(col("doc_id") >= PlantOffset).select(col("doc_id"), col("text")),
          corpus.filter(col("doc_id") < PlantOffset).select(col("doc_id"), col("text")),
          threshold = 0.5)
      },
      Some(
        s"""WITH $clusterCorpusSql,
          |$minhashBandSql,
          |bt AS (SELECT * FROM bands WHERE doc_id >= $PlantOffset),
          |be AS (SELECT * FROM bands WHERE doc_id < $PlantOffset),
          |${keptBucketsSql("btp", "bt")},
          |${keptBucketsSql("bep", "be")},
          |cand AS (
          |  SELECT DISTINCT btp.doc_id AS train_id, bep.doc_id AS eval_id
          |  FROM btp JOIN bep ON btp.band = bep.band AND btp.bkey = bep.bkey),
          |${verifySql("inter", "ver", "cand", "train_id", "eval_id", 0.5)},
          |rk AS (
          |  SELECT train_id, eval_id, jaccard,
          |         count(*) OVER (PARTITION BY train_id) AS n_eval_matches,
          |         row_number() OVER (PARTITION BY train_id
          |                            ORDER BY jaccard DESC, eval_id) AS rk
          |  FROM ver)
          |SELECT train_id, CAST(n_eval_matches AS BIGINT) AS n_eval_matches,
          |       eval_id AS best_eval_id, jaccard AS best_jaccard
          |FROM rk WHERE rk = 1
          |ORDER BY train_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d12: containment dedup — the ASYMMETRIC near-dup case symmetric
    // Jaccard (d02/d03) structurally misses: a document that is a
    // SUBSET of another (a quoted excerpt, a truncated mirror, a
    // syndicated fragment) can have Jaccard ≈ |A|/|B| ≪ threshold while
    // containment |A∩B|/|A| = 1. Corpus = documents ∪ planted prefix
    // snippets (every 4th doc truncated to its first ⌈0.6·n⌉ tokens,
    // id + 1,000,000); unit = distinct word-5-grams.
    //
    // Scale structure (set-similarity-join prefix filtering, e.g.
    // PPJoin, Xiao et al. 2008 — public literature): candidates come
    // from an inverted index over grams with document frequency in
    // [2, RareDfCap] only. Soundness of the index: a contained doc's
    // EVERY gram also occurs in its container, so each of its grams has
    // df ≥ 2 and the pair is found unless ALL the contained doc's grams
    // are hotter than the cap — the declared boilerplate-miss class,
    // the same knob as d02's hot-bucket cap. Candidate volume is bounded by
    // Σ_g df(g)² over capped grams (measured output-bound at all three
    // SFs: 386→218 rows at sf0.001); the verify step is one
    // array_intersect per candidate pair, never all-pairs. Containment
    // is exact INTEGER arithmetic end to end (n_shared·5 ≥ n_grams·4
    // for the 0.8 gate; micro-units by integer division) — no float in
    // the compare. Grams are native word_ngram_hashes 64-bit sets on
    // the Spark side vs string grams in the oracle: counts agree modulo
    // 64-bit collisions (the d03/t14 convention).
    GraftQuery(
      "d12_containment_dedup",
      "asymmetric containment >= 0.8 pairs (prefix-snippet corpus, rare-gram inverted index)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val toks = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
        val snippets = t.documents.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            array_join(
              slice(toks, lit(1), ceil(size(toks) * lit(0.6)).cast("int")), " ")
              .as("text"))
        val corpus = t.documents.select(col("doc_id"), col("text"))
          .unionByName(snippets)
        // Sorted-distinct 5-gram hash set per doc; persisted — it feeds
        // the df index AND both sides of the candidate verification (and
        // the persist is a CollapseProject barrier for the gram HOF).
        val gramSets = cached(corpus.select(col("doc_id"),
          call_function("word_ngram_hashes", col("text"), lit(5)).as("gs")))
        val grams = gramSets.select(col("doc_id"), explode(col("gs")).as("g"))
        // MERGE on the df-index join and the rare self-join (round 15):
        // the distinct-gram df list and the rare postings are both
        // corpus-proportional, and their estimates run through exactly
        // d08's measured failure path (explode anchor + agg + filter
        // undershooting the 64 MB broadcast gate). Both joins arrive
        // hash-clustered on g from the df shuffle.
        val rare = grams
          .join(grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
            .filter(col("df").between(2, RareDfCap)).hint("merge"), Seq("g"))
        val cand = rare.select(col("g"), col("doc_id").as("contained_id"))
          .join(rare.select(col("g"), col("doc_id").as("container_id"))
            .hint("merge"), Seq("g"))
          .filter(col("contained_id") =!= col("container_id"))
          .select(col("contained_id"), col("container_id")).distinct()
        cand
          .join(gramSets.select(col("doc_id").as("contained_id"),
            col("gs").as("gs_a")).hint("merge"), Seq("contained_id"))
          .join(gramSets.select(col("doc_id").as("container_id"),
            col("gs").as("gs_b")).hint("merge"), Seq("container_id"))
          .select(col("contained_id"), col("container_id"),
            size(col("gs_a")).cast("long").as("n_grams"),
            size(array_intersect(col("gs_a"), col("gs_b"))).cast("long")
              .as("n_shared"))
          .filter(col("n_shared") * 5 >= col("n_grams") * 4)
          .withColumn("containment_e6",
            expr("n_shared * 1000000 div n_grams"))
          .orderBy(col("contained_id"), col("container_id"))
      },
      Some(
        s"""WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id,
          |         array_to_string((regexp_extract_all(text, '\\S+'))
          |           [1:CAST(ceil(0.6 * len(regexp_extract_all(text, '\\S+'))) AS INT)],
          |           ' ') AS text
          |  FROM documents WHERE doc_id % 4 = 0),
          |ws AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM corpus),
          |gsets AS (
          |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ')
          |                  FOR i IN range(1, greatest(len(w) - 3, 2))]) AS gs
          |  FROM ws),
          |grams AS (SELECT doc_id, unnest(gs) AS g FROM gsets),
          |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
          |rare AS (SELECT doc_id, g FROM grams JOIN df USING (g)
          |         WHERE df BETWEEN 2 AND $RareDfCap),
          |cand AS (
          |  SELECT DISTINCT ra.doc_id AS contained_id, rb.doc_id AS container_id
          |  FROM rare ra JOIN rare rb ON ra.g = rb.g AND ra.doc_id <> rb.doc_id),
          |inter AS (
          |  SELECT c.contained_id, c.container_id,
          |         CAST(len(ga.gs) AS BIGINT) AS n_grams,
          |         CAST(len(list_intersect(ga.gs, gb.gs)) AS BIGINT) AS n_shared
          |  FROM cand c
          |  JOIN gsets ga ON ga.doc_id = c.contained_id
          |  JOIN gsets gb ON gb.doc_id = c.container_id)
          |SELECT contained_id, container_id, n_grams, n_shared,
          |       CAST((n_shared * 1000000) // n_grams AS BIGINT) AS containment_e6
          |FROM inter
          |WHERE n_shared * 5 >= n_grams * 4
          |ORDER BY contained_id, container_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d13: soft dedup — instead of DROPPING duplicates (d01), every
    // corpus row gets a sampling weight 1/cluster_size in integer
    // micro-units, the down-weighting used when a training mix wants
    // duplicated content represented ONCE in expectation without losing
    // any row (the D4/SemDeDup-adjacent "soft" policy; with weights the
    // epoch-level token distribution matches the deduplicated corpus
    // while retaining per-copy provenance). Clusters are d01's exact
    // fingerprint groups over the same perturbed corpus.
    //
    // Plan shape: ONE shuffle — count(*) over a fingerprint window with
    // no ORDER BY (an unbounded frame needs no sort), so the whole query
    // is scan → Exchange(fingerprint) → window → project. The groupBy +
    // self-join alternative costs a second shuffle for nothing. Weight
    // arithmetic is BIGINT floor division — exact, hash-safe.
    GraftQuery(
      "d13_dedup_soft_weights",
      "per-row inverse-cluster-size sampling weights over the perturbed corpus",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables(spark, dir)
        exactDupCorpus(t.documents)
          .select(col("doc_id"), contentFingerprint(col("text")).as("fingerprint"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
          .selectExpr("doc_id", "fingerprint", "cluster_size",
            "1000000 div cluster_size AS weight_e6")
          .orderBy(col("doc_id"))
      },
      Some(
        "WITH " + exactDupCorpusSql + ",\n" +
        """fp AS (
          |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
          |  FROM corpus)
          |SELECT doc_id, fingerprint,
          |       CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS cluster_size,
          |       CAST(1000000 // count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS weight_e6
          |FROM fp
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d14: MinHash estimator calibration — the measurement UNDER d02:
    // for every LSH candidate pair, the signature-agreement estimate
    // (agree/32 ≈ Jaccard, the identity the banding's recall math
    // rests on) next to the exact shingle Jaccard, plus the signed
    // error. This is how a pipeline owner picks bands/rows/thresholds
    // for a new corpus: measure the estimator ON the candidates the
    // index actually surfaces (which oversample high-agreement pairs —
    // exactly the region the threshold lives in). Everything is the
    // d02 machinery single-sourced (same shingles, signatures, bands,
    // hot-bucket caps); agreement and both micro-unit ratios are
    // integers, the whole chain replays in DuckDB from the same stage
    // builders.
    //
    // Plan shape: d02's one banding shuffle + one candidate join, then
    // signature/shingle lookups re-join the persisted frames; no new
    // corpus-scale work beyond d02's own.
    GraftQuery(
      "d14_minhash_estimator",
      "per-candidate-pair MinHash agreement estimate vs exact Jaccard (signed error, micro-units)",
      (spark, dir) => {
        val (sh, sig) = signed(nearDupCorpus(Tables(spark, dir).documents))
        val cands = candidatePairs(banded(sig))
        val agree = expr(
          "size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), b -> b))")
        cands
          .join(sig.select(col("doc_id").as("doc_a"), col("minhash").as("mh_a")), Seq("doc_a"))
          .join(sig.select(col("doc_id").as("doc_b"), col("minhash").as("mh_b")), Seq("doc_b"))
          .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("g_a"),
            size(col("shingles")).as("n_a")), Seq("doc_a"))
          .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("g_b"),
            size(col("shingles")).as("n_b")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            agree.cast("long").as("est_agree"),
            call_function("sorted_intersect_size", col("g_a"), col("g_b"))
              .cast("long").as("inter"),
            col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
          .selectExpr("doc_a", "doc_b", "est_agree",
            "est_agree * 1000000 div 32 AS est_e6",
            "inter * 1000000 div (n_a + n_b - inter) AS jaccard_e6",
            "est_agree * 1000000 div 32 - inter * 1000000 div (n_a + n_b - inter) AS err_e6")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(
        s"""WITH ${nearDupCorpusSql("corpus")},
          |$minhashBandSql,
          |${keptBucketsSql("pruned", "bands")},
          |${selfCandidatesSql("cand", "pruned")},
          |agree AS (
          |  SELECT doc_a, doc_b, CAST(count(*) FILTER (WHERE va = vb) AS BIGINT) AS est_agree
          |  FROM (
          |    SELECT c.doc_a, c.doc_b, unnest(sa.mhl) AS va, unnest(sb.mhl) AS vb
          |    FROM cand c
          |    JOIN sigl sa ON sa.doc_id = c.doc_a
          |    JOIN sigl sb ON sb.doc_id = c.doc_b)
          |  GROUP BY doc_a, doc_b),
          |it AS (
          |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
          |  FROM cand c
          |  JOIN grams ga ON ga.doc_id = c.doc_a
          |  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.h = ga.h
          |  GROUP BY 1, 2),
          |calib AS (
          |  SELECT a.doc_a, a.doc_b, a.est_agree,
          |         CAST(a.est_agree * 1000000 // 32 AS BIGINT) AS est_e6,
          |         CAST(coalesce(i.inter, 0) * 1000000
          |              // (sa.n + sb.n - coalesce(i.inter, 0)) AS BIGINT) AS jaccard_e6
          |  FROM agree a
          |  LEFT JOIN it i USING (doc_a, doc_b)
          |  JOIN sizes sa ON sa.doc_id = a.doc_a
          |  JOIN sizes sb ON sb.doc_id = a.doc_b)
          |SELECT doc_a, doc_b, est_agree, est_e6, jaccard_e6,
          |       CAST(est_e6 - jaccard_e6 AS BIGINT) AS err_e6
          |FROM calib
          |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d15: INCREMENTAL snapshot dedup — the ingest-time shape of d01.
    // A corpus is never deduped once: new batches arrive daily, and the
    // 100 TB question is "is this batch-doc a dup of anything already
    // ingested?" WITHOUT rescanning the base corpus. The answer is a
    // durable fingerprint INDEX (fingerprint → canonical id), built once
    // when the base snapshot was ingested and persisted as a warehouse
    // asset (here: a parquet layout built once per JVM, the same
    // discipline as the s07 IVF index); each incoming batch then joins
    // the index by fingerprint only. Verdicts are three-valued — a doc
    // can be a dup of the INDEX (seen in a prior snapshot), a dup
    // WITHIN its own batch (first batch occurrence wins), or new; the
    // canonical id always points at the surviving copy.
    //
    // Scale shape: the base corpus contributes only its 16-byte
    // fingerprints, and only ONCE ever (index build); the per-batch
    // work shuffles (fingerprint, doc_id) pairs — ~24 bytes/doc, text
    // never moves, and the index scan reads (fingerprint, canonical)
    // only. At test SF AQE broadcasts both small sides (the index and
    // the batch-first dim), so the incoming batch never shuffles for a
    // join at all (PlanShapeSpec pins this); past the auto-threshold
    // both joins degrade to shuffle joins keyed on fingerprint. At real
    // scale the index would additionally be bucketed by fingerprint so
    // batch ingest never reshuffles the index (q61's layout
    // discipline).
    GraftQuery(
      "d15_incremental_dedup",
      "new-batch dedup against a persisted fingerprint index + within-batch first-wins (no base rescan)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        assertPlantIdSpace(t.documents, "d15#" + dir)
        // the durable index: base snapshot = 4/5 of documents, built once
        // per JVM and served from parquet thereafter
        val idxDir = graft.io.TempLayouts.cached(
          "d15_index#" + new java.io.File(dir).getCanonicalPath,
          "graft_d15_idx_") { out =>
          t.documents.filter(col("doc_id") % 5 =!= 0)
            .select(contentFingerprint(col("text")).as("fingerprint"),
              col("doc_id"))
            .groupBy(col("fingerprint"))
            .agg(min(col("doc_id")).as("idx_canonical"))
            .write.mode("overwrite").parquet(out)
        }
        val index = spark.read.parquet(idxDir)
        // incoming batch: the held-out 1/5, plus planted index-dups
        // (perturbed copies of base docs) and within-batch dups
        // (perturbed copies of batch docs)
        val incoming = plantedBatch(t.documents, spaced)
          .select(col("doc_id"), contentFingerprint(col("text")).as("fingerprint"))
        incrementalDedupVerdicts(index, incoming)
      },
      Some(
        raw"""WITH base AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
          |idx AS (
          |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
          |         min(doc_id) AS idx_canonical
          |  FROM base GROUP BY 1),
          |${plantedBatchSql("incoming", spacedSql)},
          |fp AS (
          |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
          |  FROM incoming),
          |bf AS (SELECT fingerprint, min(doc_id) AS batch_first FROM fp GROUP BY 1)
          |SELECT fp.doc_id,
          |       CASE WHEN idx.idx_canonical IS NOT NULL THEN 'dup_index'
          |            WHEN bf.batch_first < fp.doc_id THEN 'dup_batch'
          |            ELSE 'new' END AS verdict,
          |       CAST(coalesce(idx.idx_canonical, bf.batch_first) AS BIGINT) AS canonical_id
          |FROM fp
          |LEFT JOIN idx USING (fingerprint)
          |JOIN bf USING (fingerprint)
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d16: CANONICAL SELECTION — the decision step near-dup clustering
    // exists to feed. d05 answers "which docs form a duplicate cluster";
    // the pipeline question is "which single member do we KEEP, and
    // which do we purge". Policy here: keep the longest member (most
    // whitespace tokens — the planted truncations lose by
    // construction, which mirrors the real heuristic of keeping the
    // least-truncated crawl of a page), tie-broken by min doc_id so the
    // verdict is total and deterministic. Singleton docs (no near-dup
    // edge) are their own cluster and keep themselves — unlike d05 the
    // output covers EVERY corpus doc, because a purge list must be a
    // complete partition of the corpus into keep/purge.
    //
    // Scale shape: everything up to the labels is d05 (blocked pair
    // generation, large/small-star closure). On top: one projection of
    // (doc_id, n_words) — the 8-byte length survives, text never moves
    // — a LEFT join to the edge-node labels (label table ≤ corpus,
    // AQE picks the strategy; no hint), and the per-cluster winner as a
    // map-side-combinable max(struct(n_words, -doc_id)) aggregate — NOT
    // a window, so a pathological million-member cluster still reduces
    // partially on the map side instead of sorting one partition.
    GraftQuery(
      "d16_dedup_canonical_keep",
      "near-dup clusters → keep the longest member per cluster, purge the rest (total keep/purge verdict)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // corpus persisted (round 14): both the edge generator and the
        // n_words projection re-derive the 3-arm regex corpus otherwise
        val corpus = cached(clusterCorpus(t.documents))
        val edges = shingleJaccardEdges(corpus, threshold = 0.5)
        val assign = ConnectedComponents.components(edges)
        val docs = corpus.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_words"))
        val clustered = docs
          .join(assign, docs("doc_id") === assign("node"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"),
            col("n_words"))
        val winners = clustered.groupBy(col("cluster_id"))
          .agg(max(struct(col("n_words"), (-col("doc_id")).as("neg_id"))).as("w"),
            count(lit(1)).as("cluster_size"))
          .select(col("cluster_id"), (-col("w.neg_id")).as("kept_id"),
            col("cluster_size"))
        clustered.join(winners, Seq("cluster_id"))
          .select(col("cluster_id"), col("doc_id"), col("n_words"),
            col("cluster_size"), col("kept_id"),
            when(col("doc_id") === col("kept_id"), lit("keep"))
              .otherwise(lit("purge")).as("verdict"))
          .orderBy(col("cluster_id"), col("doc_id"))
      },
      Some(
        "WITH RECURSIVE " + clusterLabelSql + ",\n" +
        """words AS (
          |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words
          |  FROM corpus),
          |cl AS (
          |  SELECT w.doc_id, coalesce(l.cluster_id, w.doc_id) AS cluster_id, w.n_words
          |  FROM words w LEFT JOIN lbl l USING (doc_id)),
          |rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY cluster_id
          |                               ORDER BY n_words DESC, doc_id) AS rn
          |  FROM cl),
          |win AS (SELECT cluster_id, doc_id AS kept_id FROM rk WHERE rn = 1),
          |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          |       FROM cl GROUP BY cluster_id)
          |SELECT c.cluster_id, c.doc_id, c.n_words, s.cluster_size, w.kept_id,
          |       CASE WHEN c.doc_id = w.kept_id THEN 'keep' ELSE 'purge' END AS verdict
          |FROM cl c JOIN win w USING (cluster_id) JOIN sz s USING (cluster_id)
          |ORDER BY c.cluster_id, c.doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // d17: incremental NEAR-DUP ingest — d15's fuzzy twin, closing the
    // maintenance story for the LSH family: d15 serves a persisted
    // EXACT-fingerprint index, but a continuously-fed corpus also needs
    // its near-dup decision per batch, and re-running d02 over
    // base ∪ batch would re-band and re-pair the full history every day
    // (old×old pairs are re-derived and re-verified for no reason). The
    // durable asset here is the LSH index itself: the base corpus'
    // PRUNED band table (hot buckets dropped at build — the cap is an
    // index property, like s24's tombstones) plus its shingle-hash sets
    // (the verification payload, the ANN-index analog of storing
    // vectors). A batch then costs O(batch): shingle + sign + band the
    // new docs, drop batch-side hot buckets, probe the index bands for
    // new×old candidates, self-join the batch bands for new×new, and
    // verify both against exact shingle Jaccard — base TEXT is never
    // rescanned and old×old pairs never exist. Verdicts are d15's:
    // dup_index (any index match ≥ t; canonical = argmax-Jaccard match,
    // min-id tie-break, as a partial max(struct) — no window),
    // dup_batch (matches an EARLIER batch doc — first-wins), else new
    // (whose bands/shingles are exactly what an accepting ingest
    // appends to the index, the s17 pattern).
    //
    // FULLY ORACLED: per-doc signatures are independent, so DuckDB
    // re-bands base ∪ incoming in one minhashBandSql chain, splits by
    // id space, applies each side's hot-bucket cap independently (the
    // d07 convention), and replays candidates, Jaccard, and both
    // argmaxes. Jaccard is a ratio of exact ints — bit-identical
    // doubles.
    GraftQuery(
      "d17_incremental_neardup",
      "new-batch near-dup verdicts against a persisted LSH band index (no base rescan, no old-pair regen)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        assertPlantIdSpace(t.documents, "d17#" + dir)
        val idxDir = graft.io.TempLayouts.cached(
          "d17_index#" + new java.io.File(dir).getCanonicalPath,
          "graft_d17_idx_") { out =>
          val (sh, sig) = signed(t.documents.filter(col("doc_id") % 5 =!= 0)
            .select(col("doc_id"), col("text")))
          dropHotBuckets(banded(sig)).write.mode("overwrite").parquet(s"$out/bands")
          sh.write.mode("overwrite").parquet(s"$out/shingles")
          sig.unpersist()
          sh.unpersist()
        }
        // incoming batch: the held-out 1/5, plus planted index-dups
        // (truncations of base docs) and within-batch dups (truncations
        // of batch docs) — the d15 batch composition, fuzzied
        incrementalNearDupVerdicts(
          spark.read.parquet(s"$idxDir/bands"),
          spark.read.parquet(s"$idxDir/shingles"),
          plantedBatch(t.documents, truncated(3)), threshold = 0.5)
      },
      Some(
        s"""WITH base AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
          |${plantedBatchSql("inc", truncatedSql(3))},
          |allc AS (SELECT * FROM base UNION ALL SELECT * FROM inc),
          |${minhashBandSqlOver("allc")},
          |bi AS (SELECT * FROM bands WHERE doc_id < $PlantOffset AND doc_id % 5 <> 0),
          |bb AS (SELECT * FROM bands WHERE doc_id >= $PlantOffset OR doc_id % 5 = 0),
          |${keptBucketsSql("bip", "bi")},
          |${keptBucketsSql("bbp", "bb")},
          |cio AS (
          |  SELECT DISTINCT bbp.doc_id AS doc_id, bip.doc_id AS idx_id
          |  FROM bbp JOIN bip USING (band, bkey)),
          |${selfCandidatesSql("cbb", "bbp")},
          |${verifySql("iio", "vio", "cio", "doc_id", "idx_id", 0.5)},
          |${verifySql("ibb", "vbb", "cbb", "doc_a", "doc_b", 0.5)},
          |ri AS (
          |  SELECT doc_id, idx_id, jaccard,
          |         row_number() OVER (PARTITION BY doc_id
          |                            ORDER BY jaccard DESC, idx_id) AS rk
          |  FROM vio),
          |rb AS (
          |  SELECT doc_b AS doc_id, doc_a, jaccard,
          |         row_number() OVER (PARTITION BY doc_b
          |                            ORDER BY jaccard DESC, doc_a) AS rk
          |  FROM vbb)
          |SELECT i.doc_id,
          |       CASE WHEN ri.doc_id IS NOT NULL THEN 'dup_index'
          |            WHEN rb.doc_id IS NOT NULL THEN 'dup_batch'
          |            ELSE 'new' END AS verdict,
          |       CAST(CASE WHEN ri.doc_id IS NOT NULL THEN ri.idx_id
          |                 WHEN rb.doc_id IS NOT NULL THEN rb.doc_a
          |                 ELSE i.doc_id END AS BIGINT) AS canonical_id,
          |       CASE WHEN ri.doc_id IS NOT NULL THEN ri.jaccard ELSE rb.jaccard END
          |         AS best_jaccard
          |FROM inc i
          |LEFT JOIN (SELECT * FROM ri WHERE rk = 1) ri USING (doc_id)
          |LEFT JOIN (SELECT * FROM rb WHERE rk = 1) rb USING (doc_id)
          |ORDER BY i.doc_id""".stripMargin)
    )
  )

  /** d15's verdict engine over arbitrary frames: `index` is
    * (fingerprint, idx_canonical) — the persisted prior-snapshot asset —
    * and `incoming` is (doc_id, fingerprint) for the new batch. An empty
    * index makes every batch doc new or dup_batch; an empty batch yields
    * an empty result. See the d15 catalog entry for the plan-shape
    * argument (fingerprint-only exchanges, both small sides
    * auto-broadcast at test SF). */
  def incrementalDedupVerdicts(index: DataFrame, incoming: DataFrame): DataFrame = {
    val batchFirst = incoming.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("batch_first"))
    incoming
      .join(index, Seq("fingerprint"), "left")
      .join(batchFirst, Seq("fingerprint"))
      .select(col("doc_id"),
        when(col("idx_canonical").isNotNull, lit("dup_index"))
          .when(col("batch_first") < col("doc_id"), lit("dup_batch"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("idx_canonical"), col("batch_first")).as("canonical_id"))
      .orderBy(col("doc_id"))
  }

  /** d17's verdict engine: `indexBands` is the persisted PRUNED
    * (doc_id, band, band_sig) table and `indexShingles` the persisted
    * (doc_id, shingles) verification payload — the two halves of the
    * durable LSH index; `incoming` is (doc_id, text) for the new batch.
    * O(batch) work: only the batch is shingled/signed/banded here; the
    * index sides arrive as parquet scans. The batch bands lose their hot
    * buckets once ([[dropHotBuckets]]; the index side was pruned at
    * build), and the pruned frame feeds both the index probe and the
    * within-batch [[selfCandidates]]. The index-probe joins and both
    * verify joins carry no hint: their anchors (persisted batch frames,
    * index parquet scans) carry accurate sizes, so at test SF AQE
    * broadcasts the batch side, and at corpus scale it demotes them to
    * shuffled joins keyed on (band, band_sig) and doc ids only (shingle
    * arrays move once, to the verify join). Argmax canonicals are
    * partial `max(struct)` aggregates — no window. See the d17 catalog
    * entry for the full scale argument. */
  def incrementalNearDupVerdicts(indexBands: DataFrame,
      indexShingles: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame = {
    val sh = cached(shingled(incoming))
    // the batch persists its band frame, which the hot-bucket count and
    // semi-join both read; its signatures feed nothing else
    val bbp = cached(dropHotBuckets(cached(banded(withSignature(sh)))))
    val shN = sh.withColumn("n", size(col("shingles")))
    def jaccardOf(df: DataFrame): DataFrame = df
      .withColumn("inter",
        call_function("sorted_intersect_size", col("sh_x"), col("sh_y")))
      .withColumn("jaccard", jaccard("n_x", "n_y"))
      .filter(col("jaccard") >= threshold)
    // new × old: probe the persisted index with the batch bands
    val bestIdx = jaccardOf(
      bbp.select(col("band"), col("band_sig"), col("doc_id"))
        .join(indexBands.select(col("band"), col("band_sig"),
          col("doc_id").as("idx_id")), Seq("band", "band_sig"))
        .select(col("doc_id"), col("idx_id")).distinct()
        .join(shN.select(col("doc_id"), col("shingles").as("sh_x"),
          col("n").as("n_x")), Seq("doc_id"))
        .join(indexShingles.select(col("doc_id").as("idx_id"),
          col("shingles").as("sh_y"), size(col("shingles")).as("n_y")),
          Seq("idx_id")))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("jaccard").as("j"), (-col("idx_id")).as("neg")))
        .as("m"))
      .select(col("doc_id"), (-col("m.neg")).as("idx_best"),
        col("m.j").as("idx_j"))
    // new × new: within-batch pairs; an incoming doc is a batch-dup of
    // an EARLIER batch doc only (first-wins)
    val bestBatch = jaccardOf(
      selfCandidates(bbp)
        .join(shN.select(col("doc_id").as("doc_a"),
          col("shingles").as("sh_x"), col("n").as("n_x")), Seq("doc_a"))
        .join(shN.select(col("doc_id").as("doc_b"),
          col("shingles").as("sh_y"), col("n").as("n_y")), Seq("doc_b")))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(max(struct(col("jaccard").as("j"), (-col("doc_a")).as("neg")))
        .as("m"))
      .select(col("doc_id"), (-col("m.neg")).as("batch_best"),
        col("m.j").as("batch_j"))
    incoming.select(col("doc_id"))
      .join(bestIdx, Seq("doc_id"), "left")
      .join(bestBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("idx_best").isNotNull, lit("dup_index"))
          .when(col("batch_best").isNotNull, lit("dup_batch"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("idx_best"), col("batch_best"), col("doc_id"))
          .as("canonical_id"),
        when(col("idx_best").isNotNull, col("idx_j"))
          .otherwise(col("batch_j")).as("best_jaccard"))
      .orderBy(col("doc_id"))
  }
}
