package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.TextFunctions._
import graft.queries.GraftQuery

/** The end-to-end training-data prep pipeline as ONE lazy Spark plan:
  * quality scoring → language filter → exact dedup (canonical doc per
  * fingerprint) → [p02: MinHash near-dup dedup] → context-window
  * chunking → stable train/eval split, aggregated to per-split corpus
  * statistics.
  *
  * Each stage is the catalog operator it names (t01 quality formula, t02
  * heuristic's en-detector, d01 fingerprint dedup, d02 minhash near-dup,
  * t05 chunking, t07 md5-bucket split); the value here is COMPOSITION:
  * Catalyst fuses the per-row stages into the scan projection, each
  * dedup is one wide exchange, and chunk fan-out happens after filtering
  * (never chunk what you are about to drop).
  *
  * Both pipelines are hash-verified end to end — the DuckDB oracles
  * replay the same stages as CTEs. p02's minhash stage became
  * oracle-able with the md5 gram-hash family (round 5): the oracle
  * REPLAYS the banding (DedupOps.minhashBandSqlOver over the
  * exact-dedup survivors + the shared pair chain), so the band-miss
  * behavior for borderline-Jaccard pairs — probabilistic over corpora,
  * deterministic for a given corpus — is bit-identical in both engines.
  * (An oracle that recomputed pairs by exact Jaccard INSTEAD of
  * replaying the bands would be flaky by construction; replay is what
  * makes this sound.) PipelineSpec still recomputes every stage
  * driver-side, with the pair set itself covered by d02's corpus-wide
  * soundness spec.
  */
object PipelineQueries {

  /** Stages 1–2: per-row stats + t01 quality score, then keep scoreable
    * english-looking docs. `extra` columns pass through untouched (p03
    * carries its per-doc redaction count to the final stats). */
  private[text] def scoredKept(corpus: DataFrame, extra: Seq[String] = Nil): DataFrame =
    corpus
      .select(Seq(col("doc_id"), col("text")) ++ extra.map(col) ++ Seq(
        length(col("text")).cast("long").as("n_chars"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit("[.,;:!?]")).cast("long").as("n_punct"),
        regexp_count(lower(col("text")), lit("\\b(the|and|of|to|is|a)\\b"))
          .cast("long").as("n_stop")): _*)
      .withColumn("quality",
        least(lit(1.0), col("n_tokens") / lit(100.0)) *
          (lit(1.0) - col("n_punct") / col("n_chars")) *
          (lit(0.5) + lit(0.5) *
            least(lit(1.0), col("n_stop") * lit(5.0) / col("n_tokens"))))
      .filter(col("quality") > 0.45 && col("n_stop") > 0)

  /** Stage 3: exact dedup — canonical (min doc_id) per normalized
    * fingerprint; one shuffle on the fingerprint key. */
  private[text] def exactCanonical(kept: DataFrame): DataFrame =
    kept
      .withColumn("fp", contentFingerprint(col("text")))
      .withColumn("canon_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("canon_id"))

  /** Stage 4: chunk counts (t05 geometry: 50-token windows, stride 40,
    * reusing the already-computed n_tokens) + stable md5-bucket split
    * (t07) as row-level columns. */
  private[text] def chunkSplit(survivors: DataFrame): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    survivors
      .withColumn("nc",
        when(col("n_tokens") <= 50, lit(1L))
          .otherwise(floor((col("n_tokens") - 50 + 39) / lit(40.0)).cast("long") + 1L))
      .withColumn("split",
        when(pmod(ascii(substring(h, 1, 1)) * 256 + ascii(substring(h, 2, 1)),
          lit(100)) < 80, "train").otherwise("eval"))
  }

  /** Stage 5: per-split corpus stats. */
  private[text] def chunkSplitStats(survivors: DataFrame): DataFrame =
    chunkSplit(survivors)
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"))

  /** p02's stage 3.5: drop the higher-id member of every verified
    * MinHash near-dup pair among the survivors (pair discovery is d02's
    * full shingle→signature→band→verify pipeline; the anti-join is the
    * removal). Returns the surviving frame. */
  private[text] def minhashDedup(survivors: DataFrame, threshold: Double): DataFrame = {
    val pairs = graft.dedup.DedupOps.minhashNearDups(
      survivors.select(col("doc_id"), col("text")), threshold)
    val drops = pairs.select(col("doc_b").as("doc_id")).distinct()
    survivors.join(drops, Seq("doc_id"), "left_anti")
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "p01_training_pipeline",
      "quality filter -> en filter -> exact dedup -> chunk(50/40) -> 80/20 split, per-split stats",
      (spark, dir) => {
        val t = Tables(spark, dir)
        chunkSplitStats(exactCanonical(scoredKept(t.documents)))
      },
      Some(
        """WITH scored AS (
          |  SELECT doc_id, text,
          |         CAST(length(text) AS BIGINT) AS n_chars,
          |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
          |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
          |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|a)\b')) AS BIGINT) AS n_stop
          |  FROM documents),
          |q AS (
          |  SELECT *,
          |         least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0) *
          |         (CAST(1.0 AS DOUBLE) - CAST(n_punct AS DOUBLE) / n_chars) *
          |         (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) *
          |          least(CAST(1.0 AS DOUBLE), CAST(n_stop AS DOUBLE) * 5.0 / n_tokens)) AS quality
          |  FROM scored),
          |kept AS (SELECT * FROM q WHERE quality > 0.45 AND n_stop > 0),
          |canon AS (
          |  SELECT *,
          |         min(doc_id) OVER (PARTITION BY
          |           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS canon_id
          |  FROM kept),
          |surv AS (SELECT * FROM canon WHERE doc_id = canon_id),
          |chunked AS (
          |  SELECT *,
          |         CASE WHEN n_tokens <= 50 THEN 1
          |              ELSE CAST(floor((n_tokens - 50 + 39) / 40.0) AS BIGINT) + 1 END AS nc
          |  FROM surv),
          |split AS (
          |  SELECT *,
          |         CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
          |                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 80
          |              THEN 'train' ELSE 'eval' END AS split
          |  FROM chunked)
          |-- sum(BIGINT) is HUGEINT in DuckDB, which pandas coerces to
          |-- float64 and the driver's hash compare then sees 101.0 vs
          |-- Spark's int64 101 — cast back to BIGINT (oracle-parity rule:
          |-- integers, never floats, across the engine boundary).
          |SELECT split, count(*) AS n_docs,
          |       CAST(sum(nc) AS BIGINT) AS n_chunks,
          |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM split
          |GROUP BY split
          |ORDER BY split""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // p02: the same pipeline over a corpus with PLANTED near-dups (every
    // doc ∪ its last-3-words-truncated copy), with the d02 minhash stage
    // between exact dedup and chunking — the real pipeline dedups fuzzily
    // too. The exact stage is a no-op on this corpus (truncation changes
    // the fingerprint), which is exactly the point: only the fuzzy stage
    // can catch these. FULLY ORACLED since the md5 gram-hash family:
    // DuckDB replays p01's stages as CTEs AND the entire minhash
    // pipeline (d02's shared band/pair chain) over the exact-dedup
    // survivors — deterministic band replay, so the probabilistic
    // band-miss behavior is identical in both engines, never flaky.
    GraftQuery(
      "p02_training_pipeline_neardup",
      "p01 with a MinHash near-dup dedup stage between exact dedup and chunking (fully oracled)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val corpus = graft.dedup.DedupOps.nearDupCorpus(t.documents)
        chunkSplitStats(
          minhashDedup(exactCanonical(scoredKept(corpus)), threshold = 0.5))
      },
      Some(
        s"""WITH ${graft.dedup.DedupOps.nearDupCorpusSql("corpus0")},
          |scored AS (
          |  SELECT doc_id, text,
          |         CAST(length(text) AS BIGINT) AS n_chars,
          |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
          |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
          |         CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a)\\b')) AS BIGINT) AS n_stop
          |  FROM corpus0),
          |q AS (
          |  SELECT *,
          |         least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0) *
          |         (CAST(1.0 AS DOUBLE) - CAST(n_punct AS DOUBLE) / n_chars) *
          |         (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) *
          |          least(CAST(1.0 AS DOUBLE), CAST(n_stop AS DOUBLE) * 5.0 / n_tokens)) AS quality
          |  FROM scored),
          |kept AS (SELECT * FROM q WHERE quality > 0.45 AND n_stop > 0),
          |canon AS (
          |  SELECT *,
          |         min(doc_id) OVER (PARTITION BY
          |           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS canon_id
          |  FROM kept),
          |surv AS (SELECT * FROM canon WHERE doc_id = canon_id),
          |${graft.dedup.DedupOps.minhashBandSqlOver("surv")},
          |${graft.dedup.DedupOps.minhashPairSql(0.5)},
          |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
          |surv2 AS (
          |  SELECT surv.* FROM surv
          |  WHERE surv.doc_id NOT IN (SELECT doc_id FROM drops)),
          |chunked AS (
          |  SELECT *,
          |         CASE WHEN n_tokens <= 50 THEN 1
          |              ELSE CAST(floor((n_tokens - 50 + 39) / 40.0) AS BIGINT) + 1 END AS nc
          |  FROM surv2),
          |spl AS (
          |  SELECT *,
          |         CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
          |                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 80
          |              THEN 'train' ELSE 'eval' END AS split
          |  FROM chunked)
          |SELECT split, count(*) AS n_docs,
          |       CAST(sum(nc) AS BIGINT) AS n_chunks,
          |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          |FROM spl
          |GROUP BY split
          |ORDER BY split""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // p03: the SERVING prep pipeline — what actually runs before text
    // reaches a trainer: PII redaction FIRST (nothing downstream may see
    // raw PII — planted per the t15 convention so the oracle can replay
    // it), then t01 quality + language gating ON THE REDACTED text, the
    // t16 classifier gate (integer logit > 0), exact dedup, chunk/split,
    // and per-split stats now also accounting total redactions. Every
    // stage is deterministic and single-sourced from its catalog
    // operator's builders (plantedPiiText/redactPii/logitOf shared with
    // t15/t16) → the whole five-stage composition carries a full oracle.
    // Plan shape: redact+score+gate fuse into ONE scan projection
    // (regex + md5 per row, zero shuffles), the dedup window is one
    // exchange on the fingerprint, the stats one more — same two-wide-
    // exchange shape as p01 with strictly more per-row work.
    GraftQuery(
      "p03_training_pipeline_serving",
      "PII redact -> quality gate -> classifier gate -> exact dedup -> chunk/split stats",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val redacted = t.documents.select(
          col("doc_id"),
          inline(transform(array(TextOps.plantedPiiText), p => struct(
            TextOps.redactPii(p).as("text"),
            TextOps.piiTotalOf(p).as("n_pii")))))
        val gated = scoredKept(redacted, extra = Seq("n_pii"))
          .filter(TextOps.logitOf(
            regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))) > 0)
        chunkSplit(exactCanonical(gated))
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nc")).as("n_chunks"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_pii")).as("n_pii_redacted"))
          .orderBy(col("split"))
      },
      Some(
        s"""WITH planted AS (
          |  SELECT doc_id,
          |  ${TextOps.plantedPiiSql.linesIterator.map(_.trim).mkString(" ")} AS ptext
          |  FROM documents),
          |red AS (
          |  SELECT doc_id, ${TextOps.redactPiiSql("ptext")} AS text,
          |         ${TextOps.piiTotalSql("ptext")} AS n_pii
          |  FROM planted),
          |scored AS (
          |  SELECT doc_id, text, n_pii,
          |         CAST(length(text) AS BIGINT) AS n_chars,
          |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
          |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
          |         CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|a)\\b')) AS BIGINT) AS n_stop
          |  FROM red),
          |q AS (
          |  SELECT *,
          |         least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0) *
          |         (CAST(1.0 AS DOUBLE) - CAST(n_punct AS DOUBLE) / n_chars) *
          |         (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) *
          |          least(CAST(1.0 AS DOUBLE), CAST(n_stop AS DOUBLE) * 5.0 / n_tokens)) AS quality
          |  FROM scored),
          |kept AS (SELECT * FROM q WHERE quality > 0.45 AND n_stop > 0),
          |cls AS (
          |  SELECT * FROM kept
          |  WHERE ${TextOps.logitSql("regexp_extract_all(lower(text), '\\S+')")} > 0),
          |canon AS (
          |  SELECT *,
          |         min(doc_id) OVER (PARTITION BY
          |           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS canon_id
          |  FROM cls),
          |surv AS (SELECT * FROM canon WHERE doc_id = canon_id),
          |chunked AS (
          |  SELECT *,
          |         CASE WHEN n_tokens <= 50 THEN 1
          |              ELSE CAST(floor((n_tokens - 50 + 39) / 40.0) AS BIGINT) + 1 END AS nc
          |  FROM surv),
          |split AS (
          |  SELECT *,
          |         CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
          |                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 80
          |              THEN 'train' ELSE 'eval' END AS split
          |  FROM chunked)
          |SELECT split, count(*) AS n_docs,
          |       CAST(sum(nc) AS BIGINT) AS n_chunks,
          |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
          |       CAST(sum(n_pii) AS BIGINT) AS n_pii_redacted
          |FROM split
          |GROUP BY split
          |ORDER BY split""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // p04: training-mix ASSEMBLY — the selection step downstream of the
    // prep pipelines (p01–p03 produce clean corpora; p04 decides what
    // the training run actually consumes): exact dedup over a corpus
    // with planted duplicates (d01's convention, lang carried) → t22
    // DSIR importance weights over the SURVIVORS (the distributions see
    // each content once — weighting before dedup would double-count
    // duplicated text) → greedy per-language 3k-token budget fill, best
    // importance first (t11's window shape — partitioned by lang, so
    // the cumulative sum parallelizes across languages; never a global
    // single-partition window).
    //
    // Stages single-sourced: exactCanonical (p01's stage 3),
    // TextOps.dsirWeights / dsirSqlOverCorpus (t22). Integer end to
    // end: weights are exact BIGINT micro-unit sums, the budget gate is
    // an exact cumulative BIGINT — full oracle.
    GraftQuery(
      "p04_training_mix",
      "dedup -> DSIR importance weights -> per-language 3k-token budget mix",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val corpus = t.documents.select(col("doc_id"), col("lang"), col("text"))
          .unionByName(t.documents.select(
            (col("doc_id") + lit(100000L)).as("doc_id"), col("lang"),
            concat(regexp_replace(col("text"), " ", "  "), lit(" ")).as("text")))
        val survivors = exactCanonical(corpus)
          .select(col("doc_id"), col("lang"), col("text"))
        val weighted = TextOps.dsirWeights(survivors)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("weight_e6").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        weighted
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .where(col("cum_tokens") <= 3000L)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("weight_e6"), col("cum_tokens"))
          .orderBy(col("lang"), col("cum_tokens"))
      },
      Some(
        s"""WITH corpus0 AS (
          |  SELECT doc_id, lang, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 100000 AS doc_id, lang,
          |         replace(text, ' ', '  ') || ' ' AS text
          |  FROM documents),
          |fp AS (
          |  SELECT doc_id, lang, text,
          |         min(doc_id) OVER (PARTITION BY
          |           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS canon_id
          |  FROM corpus0),
          |corpus AS (SELECT doc_id, lang, text FROM fp WHERE doc_id = canon_id),
          |${TextOps.dsirSqlOverCorpus},
          |r AS (
          |  SELECT doc_id, lang, n_tokens, weight_e6,
          |         CAST(sum(n_tokens) OVER (PARTITION BY lang
          |              ORDER BY weight_e6 DESC, doc_id
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |           AS cum_tokens
          |  FROM dsir)
          |SELECT doc_id, lang, n_tokens, weight_e6, cum_tokens
          |FROM r
          |WHERE cum_tokens <= 3000
          |ORDER BY lang, cum_tokens""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // p05: corpus drift report between two snapshots — the go/no-go
    // check a data team runs before swapping a refreshed corpus into
    // training: per source, how did document/gram volume move, and how
    // much phrase vocabulary churned (bigram Jaccard, gained/lost)?
    // The vocabulary unit is the word BIGRAM: unigram vocabularies
    // saturate (every split of a source shares essentially all words —
    // measured 100% overlap on this corpus), while phrase-level overlap
    // is partial and actually moves when the text distribution moves.
    // Snapshots here are deterministic interleaved doc_id halves
    // ((doc_id div 20) % 2 — the corpus assigns sources by doc_id mod
    // 20, so a plain parity split would put each source wholly in one
    // snapshot); in production they are two dated table versions
    // (q68's surface).
    //
    // Plan shape: ONE (source, bigram) hash aggregate with both
    // snapshots counted conditionally in the same pass (no self-join of
    // the corpus), rolled up per source; doc counts are a second narrow
    // agg joined on the tiny source dimension. Everything map-side
    // combines — the word-count shape; vocabulary churn costs no more
    // than one gram count over both snapshots together.
    GraftQuery(
      "p05_corpus_drift",
      "per-source snapshot drift: doc/gram volume + bigram-vocabulary churn (Jaccard, gained/lost)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val docs = t.documents
          .withColumn("snap", ((col("doc_id") / 20).cast("long") % 2).cast("int"))
          .withColumn("toks", regexp_extract_all(lower(col("text")),
            lit(TextOps.wsToken), lit(0)))
        val counts = docs.groupBy(col("source")).agg(
          sum(when(col("snap") === 0, 1L).otherwise(0L)).as("docs_a"),
          sum(when(col("snap") === 1, 1L).otherwise(0L)).as("docs_b"))
        val grams = docs
          .select(col("source"), col("snap"),
            // size < 2 → empty array (sequence(1, 0) would DESCEND)
            explode(expr(
              "CASE WHEN size(toks) >= 2 THEN" +
                " transform(sequence(1, size(toks) - 1)," +
                " i -> concat(toks[i - 1], ' ', toks[i]))" +
                " ELSE array() END")).as("gram"))
          .groupBy(col("source"), col("gram"))
          .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("cnt_a"),
            sum(when(col("snap") === 1, 1L).otherwise(0L)).as("cnt_b"))
        val drift = grams.groupBy(col("source")).agg(
          sum(col("cnt_a")).as("grams_a"),
          sum(col("cnt_b")).as("grams_b"),
          sum(when(col("cnt_a") > 0, 1L).otherwise(0L)).as("vocab_a"),
          sum(when(col("cnt_b") > 0, 1L).otherwise(0L)).as("vocab_b"),
          sum(when(col("cnt_a") > 0 && col("cnt_b") > 0, 1L).otherwise(0L))
            .as("vocab_common"))
        counts.join(drift, Seq("source"))
          .selectExpr("source", "docs_a", "docs_b", "grams_a", "grams_b",
            "vocab_a", "vocab_b", "vocab_common",
            "CASE WHEN vocab_a + vocab_b - vocab_common = 0 THEN 0 " +
              "ELSE vocab_common * 1000000 div (vocab_a + vocab_b - vocab_common) END" +
              " AS vocab_jaccard_e6",
            "vocab_b - vocab_common AS grams_gained",
            "vocab_a - vocab_common AS grams_lost")
          .orderBy(col("source"))
      },
      Some(
        """WITH d AS (
          |  SELECT source, (doc_id // 20) % 2 AS snap,
          |         regexp_extract_all(lower(text), '\S+') AS toks
          |  FROM documents),
          |counts AS (
          |  SELECT source,
          |         CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_a,
          |         CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_b
          |  FROM d GROUP BY source),
          |grams AS (
          |  SELECT source, gram,
          |         CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
          |         CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
          |  FROM (SELECT source, snap,
          |               unnest([toks[i] || ' ' || toks[i + 1]
          |                       FOR i IN range(1, greatest(len(toks), 1))]) AS gram
          |        FROM d)
          |  GROUP BY source, gram),
          |drift AS (
          |  SELECT source,
          |         CAST(sum(cnt_a) AS BIGINT) AS grams_a,
          |         CAST(sum(cnt_b) AS BIGINT) AS grams_b,
          |         CAST(sum(CASE WHEN cnt_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
          |         CAST(sum(CASE WHEN cnt_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
          |         CAST(sum(CASE WHEN cnt_a > 0 AND cnt_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS vocab_common
          |  FROM grams GROUP BY source)
          |SELECT c.source, docs_a, docs_b, grams_a, grams_b,
          |       vocab_a, vocab_b, vocab_common,
          |       CAST(CASE WHEN vocab_a + vocab_b - vocab_common = 0 THEN 0
          |            ELSE vocab_common * 1000000 // (vocab_a + vocab_b - vocab_common)
          |            END AS BIGINT) AS vocab_jaccard_e6,
          |       CAST(vocab_b - vocab_common AS BIGINT) AS grams_gained,
          |       CAST(vocab_a - vocab_common AS BIGINT) AS grams_lost
          |FROM counts c JOIN drift USING (source)
          |ORDER BY source""".stripMargin)
    )
  )
}
