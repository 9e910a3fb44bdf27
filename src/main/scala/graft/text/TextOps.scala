package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.io.Tables
import graft.functions.TextFunctions._
import graft.queries.GraftQuery

/** Text-analysis operators over the `documents` table — the language-id /
  * quality-scoring / token-counting / fingerprinting stages of a training-
  * data pipeline (prompt requirement beyond the reference surface).
  *
  * Everything is a narrow per-row projection (whole-stage codegen, no
  * shuffle except final ordering), so these scale linearly with document
  * count — the right shape for a 100 TB text corpus.
  */
object TextOps {

  // Shared regexes — kept to syntax that Java regex (Spark) and RE2
  // (DuckDB) interpret identically so the oracle can mirror them.
  private[text] val wsToken = "\\S+"
  private val bpeish = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
  private val punct = "[.,;:!?]"
  private val enStop = "\\b(the|and|of|to|is|a)\\b"

  /** t22's DSIR scoring stage over an arbitrary (doc_id, lang, text)
    * frame — single-sourced so composed pipelines (p04) run the EXACT
    * same stage the standalone catalog entry oracles. See the t22
    * entry's doc for the model and the integer-quantization argument.
    * Returns (doc_id, lang, n_tokens, weight_e6). */
  private[graft] def dsirWeights(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nb = 256L
    val bucketed = docs.select(col("doc_id"), col("lang"),
      explode(regexp_extract_all(lower(col("text")), lit(wsToken), lit(0)))
        .as("term"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("term")), 1, 6), 16, 10).cast("long") % nb)
          .as("b"))
    val bc = bucketed.groupBy(col("b")).agg(
      count(lit(1)).as("cnt_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_t"))
    val tot = bc.agg(sum(col("cnt_r")).as("r_tot"), sum(col("cnt_t")).as("t_tot"))
    val lr = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        round(log(((col("cnt_t") + 1L) * (col("r_tot") + nb)).cast("double") /
            ((col("cnt_r") + 1L) * (col("t_tot") + nb)).cast("double"))
          * lit(1000000)).cast("long").as("lr_e6"))
    bucketed.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_e6")).as("weight_e6"))
  }

  /** [[dsirWeights]] in DuckDB SQL over a CTE named `corpus`
    * (doc_id, lang, text); terminates in a relation `dsir`
    * (doc_id, lang, n_tokens, weight_e6). Declared before [[all]]:
    * interpolated into oracle strings at object-init time. */
  private[graft] val dsirSqlOverCorpus: String =
    """tb AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5(term), 1, 6))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang,
      |               unnest(regexp_extract_all(lower(text), '\S+')) AS term
      |        FROM corpus)),
      |bc AS (
      |  SELECT b, count(*) AS cnt_r,
      |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t
      |  FROM tb GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(cnt_r) AS BIGINT) AS r_tot,
      |         CAST(sum(cnt_t) AS BIGINT) AS t_tot
      |  FROM bc),
      |lr AS (
      |  SELECT b, CAST(round(ln(
      |           CAST((cnt_t + 1) * (r_tot + 256) AS DOUBLE) /
      |           CAST((cnt_r + 1) * (t_tot + 256) AS DOUBLE)) * 1000000)
      |         AS BIGINT) AS lr_e6
      |  FROM bc CROSS JOIN tot),
      |dsir AS (
      |  SELECT doc_id, lang, count(*) AS n_tokens,
      |         CAST(sum(lr_e6) AS BIGINT) AS weight_e6
      |  FROM tb JOIN lr USING (b)
      |  GROUP BY doc_id, lang)""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    // ------------------------------------------------------------------
    // t01: token counting + quality scoring. Counts are ints (exact);
    // the quality score is per-row double arithmetic in a fixed
    // operation order → bit-identical across engines.
    GraftQuery(
      "t01_text_stats",
      "token counts (whitespace + BPE-ish), punctuation, stopwords, quality score",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars_calc"),
            regexp_count(col("text"), lit(wsToken)).cast("long").as("n_tokens"),
            regexp_count(col("text"), lit(bpeish)).cast("long").as("n_tokens_bpeish"),
            regexp_count(col("text"), lit(punct)).cast("long").as("n_punct"),
            regexp_count(lower(col("text")), lit(enStop)).cast("long").as("n_stopwords"))
          .withColumn("quality_score",
            qualityFrom(col("n_tokens"), col("n_punct"),
              col("n_chars_calc"), col("n_stopwords")))
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH s AS (
          |  $qualitySignalsSql)
          |SELECT doc_id, n_chars_calc, n_tokens, n_tokens_bpeish, n_punct, n_stopwords,
          |       $qualitySql
          |         AS quality_score
          |FROM s
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t02: n-gram/stopword-heuristic language id. The rule (CJK chars →
    // zh; else argmax of per-language stopword hits with a fixed
    // priority) is mirrored verbatim in the oracle, so prediction parity
    // is exact even where the heuristic itself is wrong.
    GraftQuery(
      "t02_lang_id",
      "heuristic language identification vs the labeled lang column",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val lowered = lower(col("text"))
        t.documents
          .select(col("doc_id"), col("lang"),
            regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).as("s_zh"),
            regexp_count(lowered, lit("\\b(the|and|of|to|is)\\b")).as("s_en"),
            regexp_count(lowered, lit("\\b(der|die|und|das|ist|nicht)\\b")).as("s_de"),
            regexp_count(lowered, lit("\\b(el|la|los|las|que|es)\\b")).as("s_es"),
            regexp_count(lowered, lit("\\b(le|les|des|est|une|et)\\b")).as("s_fr"))
          .select(col("doc_id"), col("lang"),
            when(col("s_zh") > 0, "zh")
              .when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr"))
                && col("s_en") > 0, "en")
              .when(col("s_de") >= greatest(col("s_es"), col("s_fr"))
                && col("s_de") > 0, "de")
              .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
              .when(col("s_fr") > 0, "fr")
              .otherwise("und").as("lang_pred"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH s AS (
          |  SELECT doc_id, lang,
          |         len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh,
          |         len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
          |         len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
          |         len(regexp_extract_all(lower(text), '\b(el|la|los|las|que|es)\b')) AS s_es,
          |         len(regexp_extract_all(lower(text), '\b(le|les|des|est|une|et)\b')) AS s_fr
          |  FROM documents)
          |SELECT doc_id, lang,
          |       CASE WHEN s_zh > 0 THEN 'zh'
          |            WHEN s_en >= greatest(s_de, s_es, s_fr) AND s_en > 0 THEN 'en'
          |            WHEN s_de >= greatest(s_es, s_fr) AND s_de > 0 THEN 'de'
          |            WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
          |            WHEN s_fr > 0 THEN 'fr'
          |            ELSE 'und' END AS lang_pred
          |FROM s
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t03: content fingerprint (md5 of whitespace/case-normalized text) —
    // the portable half of document fingerprinting; both engines emit
    // identical lowercase hex.
    GraftQuery(
      "t03_fingerprint",
      "md5 content fingerprint of normalized text",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(col("doc_id"),
            contentFingerprint(col("text")).as("fingerprint"),
            length(normalizeText(col("text"))).cast("long").as("norm_len"))
          .orderBy(col("doc_id"))
      },
      Some(
        """SELECT doc_id,
          |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
          |       CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS BIGINT) AS norm_len
          |FROM documents
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t04: winnowing-style fingerprint sketch: the 4 smallest hash
    // values over the document's char 8-grams (a bottom-k sketch — two
    // near-identical documents share most of their gram set, so w.h.p.
    // most of their bottom-k). The hash family is the md5 16-hex-char
    // prefix (winnow_sketch_md5): fixed-width hex sorts exactly as the
    // unsigned 64-bit prefix, so DuckDB's substr(md5(gram),1,16)
    // replays the sketch bit-for-bit — a FULL oracle where the
    // xxhash64 family (winnow_sketch, still the fast path for sketches
    // that never leave the engine — TextSpec covers it) forces
    // rows-only. Same native one-pass bounded-insertion expression, no
    // substring/array materialization. The sketch is emitted as a
    // comma-joined string, not array: the driver's checker hashes
    // scalar cells only.
    GraftQuery(
      "t04_winnow_fingerprint",
      "bottom-4 sketch of char-8-gram md5-prefix hashes (engine-portable, fully oracled)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(col("doc_id"),
            concat_ws(",",
              call_function("winnow_sketch_md5", col("text"), lit(8), lit(4)))
              .as("sketch"),
            greatest(length(col("text")) - 7, lit(1)).cast("long").as("n_windows"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH pos AS (
          |  SELECT doc_id, text,
          |         unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
          |  FROM documents),
          |grams AS (
          |  SELECT DISTINCT doc_id,
          |         substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 16) AS h
          |  FROM pos),
          |ranked AS (
          |  SELECT doc_id, h,
          |         row_number() OVER (PARTITION BY doc_id ORDER BY h) AS r
          |  FROM grams),
          |sk AS (
          |  SELECT doc_id, string_agg(h, ',' ORDER BY h) AS sketch
          |  FROM ranked WHERE r <= 4 GROUP BY doc_id)
          |SELECT d.doc_id, sk.sketch,
          |       CAST(greatest(length(d.text) - 7, 1) AS BIGINT) AS n_windows
          |FROM documents d JOIN sk USING (doc_id)
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t05: document chunking — fixed token windows with overlap, the
    // context-window prep step of every LLM training pipeline. One row
    // fans out to ceil((n-50)/40)+1 chunk rows via a lambda-generated
    // array + posexplode: per-row compute only, NO shuffle — the operator
    // scales with input splits. Chunk boundaries are pure integer
    // arithmetic mirrored in the oracle.
    GraftQuery(
      "t05_chunk_documents",
      "50-token chunks with 10-token overlap (stride 40) per document",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val chunkTok = 50
        val stride = 40 // = chunkTok - overlap(10)
        t.documents
          .withColumn("toks", regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .withColumn("n", size(col("toks")))
          .withColumn("nc",
            when(col("n") <= chunkTok, lit(1L))
              .otherwise(floor((col("n") - chunkTok + (stride - 1)) / lit(stride.toDouble))
                .cast("long") + 1L))
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0L), col("nc") - 1),
              i => array_join(
                slice(col("toks"), (i * stride + 1).cast("int"), lit(chunkTok)),
                " "))))
          .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
            col("col").as("chunk_text"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
          |         len(regexp_extract_all(text, '\S+')) AS n
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, toks,
          |         CASE WHEN n <= 50 THEN 1
          |              ELSE CAST(floor((n - 50 + 39) / 40.0) AS BIGINT) + 1 END AS nc
          |  FROM t),
          |e AS (
          |  SELECT doc_id,
          |         unnest([{'idx': i, 'txt': array_to_string(toks[(i*40+1):(i*40+50)], ' ')}
          |                 FOR i IN range(0, CAST(nc AS INT))]) AS u
          |  FROM c)
          |SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_idx, u.txt AS chunk_text
          |FROM e
          |ORDER BY doc_id, chunk_idx""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t29: t05's chunker as a native Catalyst Generator (UDTF) — the
    // `token_chunks` expression ([[graft.functions.expressions
    // .TokenChunks]], registered in GraftExtensions). The analyzer's
    // ExtractGenerator hoists it into a Generate node (the plan spec
    // pins it); semantics are bit-identical to t05's HOF fan-out
    // (TextSpec cross-checks the full frame), and the oracle is t05's
    // chunk CTE verbatim. One byte scan per row, lazy per-chunk
    // emission, no token-array materialization — the generator twin
    // completes the Catalyst extension matrix (Expression/Aggregator/
    // TypedImperativeAggregate/Rule/Strategy/SparkPlan/Generator).
    // Same scale shape as t05: per-row compute only, no shuffle.
    GraftQuery(
      "t29_chunk_documents_native",
      "50-token/stride-40 chunks via the native token_chunks Generator (t05 twin)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(col("doc_id"),
            call_function("token_chunks", col("text"), lit(50), lit(40)))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
          |         len(regexp_extract_all(text, '\S+')) AS n
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, toks,
          |         CASE WHEN n <= 50 THEN 1
          |              ELSE CAST(floor((n - 50 + 39) / 40.0) AS BIGINT) + 1 END AS nc
          |  FROM t),
          |e AS (
          |  SELECT doc_id,
          |         unnest([{'idx': i, 'txt': array_to_string(toks[(i*40+1):(i*40+50)], ' ')}
          |                 FOR i IN range(0, CAST(nc AS INT))]) AS u
          |  FROM c)
          |SELECT doc_id, CAST(u.idx AS BIGINT) AS chunk_idx, u.txt AS chunk_text
          |FROM e
          |ORDER BY doc_id, chunk_idx""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t06: vocabulary build — corpus token frequencies, top-100. The
    // classic pre-tokenizer statistic; partial aggregation combines
    // map-side so the shuffle carries one row per (partition, token),
    // and top-k is TakeOrderedAndProject (no global sort).
    GraftQuery(
      "t06_token_vocab",
      "top-100 lowercased whitespace tokens by corpus frequency",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(explode(
            regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token"))
          .limit(100)
      },
      Some(
        """SELECT token, count(*) AS cnt
          |FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
          |      FROM documents) t
          |GROUP BY token
          |ORDER BY cnt DESC, token
          |LIMIT 100""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t07: deterministic train/eval split — bucket each doc by two hex
    // chars of the md5 of its id (content-stable: re-runs and appends
    // never reassign existing docs), 80/20. md5 hex is identical across
    // engines, so the assignment itself is oracle-checked; a narrow
    // projection, no shuffle.
    GraftQuery(
      "t07_hash_split",
      "stable md5-bucket 80/20 train/eval assignment per document",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val h = md5(col("doc_id").cast("string").cast("binary"))
        val bucket = pmod(
          ascii(substring(h, 1, 1)) * 256 + ascii(substring(h, 2, 1)),
          lit(100)).cast("long")
        t.documents
          .select(col("doc_id"), bucket.as("bucket"))
          .withColumn("split",
            when(col("bucket") < 80, "train").otherwise("eval"))
          .orderBy(col("doc_id"))
      },
      Some(
        """SELECT doc_id,
          |       CAST((ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
          |             ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS BIGINT) AS bucket,
          |       CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
          |                  ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 < 80
          |            THEN 'train' ELSE 'eval' END AS split
          |FROM documents
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t08: Gopher-style repetition/quality gating (Rae et al. 2021,
    // "Scaling Language Models" §A1.1 quality heuristics, public paper):
    // per-doc lexical-diversity + repetition signals and a keep/drop
    // verdict. One codegen'd projection per row, NO shuffle except the
    // final order; the repetition numerators are the native O(n)
    // `top_repeat_counts` expression, so per-row cost is linear in
    // document length — see gopherSignals below for the full plan notes.
    GraftQuery(
      "t08_quality_gopher",
      "repetition + lexical-diversity quality signals with keep/drop gate",
      (spark, dir) =>
        gopherSignals(Tables(spark, dir).documents).orderBy(col("doc_id")),
      Some(
        """WITH tk AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
          |b AS (
          |  SELECT doc_id, toks,
          |         [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))] AS bgs
          |  FROM tk),
          |c AS (
          |  SELECT doc_id,
          |         CAST(len(toks) AS BIGINT) AS n_words,
          |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
          |         CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS n_tok_chars,
          |         CAST(coalesce(list_max(list_transform(list_distinct(toks),
          |              w -> len(list_filter(toks, x -> x = w)))), 0) AS BIGINT) AS top_token_cnt,
          |         CAST(coalesce(list_max(list_transform(list_distinct(bgs),
          |              w -> len(list_filter(bgs, x -> x = w)))), 0) AS BIGINT) AS top_bigram_cnt
          |  FROM b),
          |d AS (
          |  SELECT *,
          |         CAST(n_tok_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS mean_word_len,
          |         CAST(top_token_cnt AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS top_token_frac,
          |         CAST(top_bigram_cnt AS DOUBLE) / CAST(greatest(n_words - 1, 1) AS DOUBLE)
          |           AS top_bigram_frac,
          |         CAST(n_distinct AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS type_token_ratio
          |  FROM c)
          |SELECT doc_id, n_words, n_distinct, n_tok_chars, top_token_cnt, top_bigram_cnt,
          |       mean_word_len, top_token_frac, top_bigram_frac, type_token_ratio,
          |       CASE WHEN n_words >= 20 AND mean_word_len >= CAST(3.0 AS DOUBLE)
          |                 AND mean_word_len <= CAST(8.0 AS DOUBLE)
          |                 AND top_token_frac <= CAST(0.11 AS DOUBLE)
          |                 AND top_bigram_frac <= CAST(0.05 AS DOUBLE)
          |                 AND type_token_ratio >= CAST(0.35 AS DOUBLE)
          |            THEN 'keep' ELSE 'drop' END AS verdict
          |FROM d
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t09: per-document top-3 TF-IDF terms — the classic relevance /
    // keyword-extraction statistic. Two hash aggregations (tf over
    // (doc,term); df over term — both map-side partial), the vocabulary-
    // sized df table joined back un-hinted (AQE chooses the strategy),
    // and the corpus size attached as a broadcast single row. Scores are quantized to integer micro-units
    // (round(score*1e6)) BEFORE ranking so the emitted output carries no
    // raw doubles and mathematically-tied scores (tf1·ln(N/df1) ==
    // tf2·ln(N/df2) happens for real integer coincidences like
    // df1²=N·df2) order identically in both engines via the term
    // tiebreak. Per-doc ranking is a window over doc_id partitions
    // (vocabulary-bounded, tiny); the bounded-heap GroupedTopK aggregate
    // (q26) is the drop-in if per-doc term counts were unbounded.
    GraftQuery(
      "t09_tfidf_terms",
      "per-document top-3 TF-IDF terms (quantized integer scores)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val tok = t.documents.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit(wsToken), lit(0)))
            .as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val nDocs = t.documents.agg(count(lit(1)).cast("double").as("n_docs"))
        // The df join carries NO broadcast() hint: dfT spans the whole
        // corpus vocabulary (unbounded in corpus size — web-scale corpora
        // exceed 1e8 distinct tokens) and an explicit hint never flips.
        // At test SF AQE picks broadcast-hash from runtime stats on its
        // own (PlanShapeSpec asserts it); at 100 TB the same unhinted
        // join degrades to a shuffle hash join on term with no other
        // plan change. nDocs stays hinted — a single-row frame.
        val scored = tf.join(dfT, Seq("term"))
          .crossJoin(broadcast(nDocs))
          .withColumn("score_e6",
            round(col("tf") * log(col("n_docs") / col("df")) * lit(1000000)).cast("long"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score_e6").desc, col("term"))
        scored
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
            col("score_e6"))
          .orderBy(col("doc_id"), col("rnk"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
          |         CAST(round(tf.tf * ln(n.n_docs / dft.df) * 1000000) AS BIGINT) AS score_e6
          |  FROM tf JOIN dft USING (term) CROSS JOIN n),
          |ranked AS (
          |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
          |             ORDER BY score_e6 DESC, term) AS BIGINT) AS rnk
          |  FROM scored)
          |SELECT doc_id, rnk, term, tf, df, score_e6
          |FROM ranked
          |WHERE rnk <= 3
          |ORDER BY doc_id, rnk""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t10: stratified quality sampling — keep the top 25% of documents
    // per language by the t01 quality score (curation step between
    // filtering and training). Ranking is per-row-deterministic: the
    // quality double is identical per-row arithmetic in both engines
    // (t01's oracle proves hash equality) and doc_id breaks ties. Exact
    // per-stratum row_number here; at 100 TB the same selection runs
    // shuffle-light via an approx_percentile threshold per stratum
    // (compute the 75th percentile, broadcast it, filter) instead of a
    // full per-lang sort.
    GraftQuery(
      "t10_stratified_sample",
      "top-25% documents per language by quality score",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id"))
        t.documents
          .select(col("doc_id"), col("lang"), qualityExpr.as("quality_score"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n_lang",
            count(lit(1)).over(Window.partitionBy(col("lang"))).cast("long"))
          .where(col("rn") <= ceil(col("n_lang") * lit(0.25)).cast("long"))
          .select(col("doc_id"), col("lang"), col("quality_score"), col("rn"),
            col("n_lang"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(
        s"""WITH q AS (
          |  SELECT doc_id, lang, $qualitySql AS quality_score
          |  FROM ($qualitySignalsSql) sig),
          |r AS (
          |  SELECT doc_id, lang, quality_score,
          |         CAST(row_number() OVER (PARTITION BY lang
          |              ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rn,
          |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
          |  FROM q)
          |SELECT doc_id, lang, quality_score, rn, n_lang
          |FROM r
          |WHERE rn <= CAST(ceil(n_lang * CAST(0.25 AS DOUBLE)) AS BIGINT)
          |ORDER BY lang, rn""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t11: token-budget data mixing — fill a fixed per-language token
    // budget (5,000) with the highest-quality documents first: order
    // each stratum by (quality desc, doc_id), running token sum, keep
    // while the inclusive cumulative count stays within budget. This is
    // the data-mixture construction step of a training pipeline
    // (allocating a token budget across languages/sources). Cumulative
    // sums are exact integers → fully oracled. Same 100 TB note as t10:
    // the per-stratum sort is the exact formulation; a quantile-
    // threshold pre-filter bounds the sorted set at scale.
    GraftQuery(
      "t11_token_budget_mix",
      "greedy per-language 5k-token budget fill, best-quality first",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.documents
          .select(col("doc_id"), col("lang"),
            regexp_count(col("text"), lit(wsToken)).cast("long").as("n_tokens"),
            qualityExpr.as("quality_score"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .where(col("cum_tokens") <= 5000L)
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
          .orderBy(col("lang"), col("cum_tokens"))
      },
      Some(
        s"""WITH q AS (
          |  SELECT doc_id, lang, n_tokens, $qualitySql AS quality_score
          |  FROM ($qualitySignalsSql) sig),
          |r AS (
          |  SELECT doc_id, lang, n_tokens,
          |         CAST(sum(n_tokens) OVER (PARTITION BY lang
          |              ORDER BY quality_score DESC, doc_id
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |           AS cum_tokens
          |  FROM q)
          |SELECT doc_id, lang, n_tokens, cum_tokens
          |FROM r
          |WHERE cum_tokens <= 5000
          |ORDER BY lang, cum_tokens""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t12: unigram language-model scoring — each document's corpus
    // log-likelihood (the KenLM-style perplexity proxy used for quality
    // filtering, e.g. CCNet; public papers). The per-term log-probability
    // ln(cnt/total) is quantized to integer micro-units PER TERM before
    // the per-doc summation: integer sums are exact in ANY aggregation
    // order, so the cross-engine compare is immune to the
    // floating-point-reassociation drift that makes double sums
    // unoracleable. Two hash aggs + an un-hinted vocab join (AQE picks
    // broadcast at small SF, shuffle-hash at corpus scale); scales as a
    // word-count job.
    GraftQuery(
      "t12_unigram_logprob",
      "per-document corpus unigram log-likelihood (integer micro-logprobs)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val tok = t.documents.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit(wsToken), lit(0)))
            .as("term"))
        val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        // corpus total from the vocabulary-sized counts frame — not a
        // second full tokenize+explode pass over the corpus
        val total = counts.agg(sum(col("cnt")).as("total"))
        val logp = counts.crossJoin(broadcast(total))
          .select(col("term"),
            round(log(col("cnt") / col("total")) * lit(1000000)).cast("long")
              .as("logp_e6"))
        // NO broadcast() hint on the scoring join: logp spans the whole
        // corpus vocabulary (unbounded in corpus size). AQE picks
        // broadcast-hash at test SF from runtime stats (PlanShapeSpec
        // asserts it); at 100 TB the unhinted join degrades to a shuffle
        // hash join on term. Same rationale as t24's bigram scoring join.
        tok.join(logp, Seq("term"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("logp_e6")).as("sum_logp_e6"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
          |  FROM documents),
          |counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
          |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
          |logp AS (
          |  SELECT term, CAST(round(ln(cnt / total) * 1000000) AS BIGINT) AS logp_e6
          |  FROM counts CROSS JOIN tot)
          |SELECT doc_id, count(*) AS n_tokens,
          |       CAST(sum(logp_e6) AS BIGINT) AS sum_logp_e6
          |FROM tok JOIN logp USING (term)
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t13: segment-level exact dedup — CCNet's paragraph dedup
    // re-expressed for this corpus (the documents have no paragraph
    // breaks, so the unit is a non-overlapping 20-token segment). Each
    // distinct segment keeps only its FIRST occurrence in (doc_id,
    // seg_idx) order; every other copy is dropped and the surviving text
    // is reassembled in order. The corpus is docs ∪ whitespace-perturbed
    // copies (d01's corpus), so each copy's segments all lose to the
    // original — n_kept = 0 for every planted dup, while originals keep
    // everything not already seen in a smaller doc.
    //
    // Scale shape: first-occurrence is min(struct(doc_id, seg_idx)) per
    // segment — a PARTIAL hash aggregate, so a pathological segment
    // repeated a billion times at 100 TB combines map-side instead of
    // sorting one hot window partition (the win over the row_number
    // formulation). One shuffle on the segment key, one equi-join back,
    // one shuffle on doc_id to reassemble.
    GraftQuery(
      "t13_segment_dedup",
      "corpus-wide first-occurrence dedup of 20-token segments, text reassembled",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val segTok = 20
        val corpus = graft.dedup.DedupOps.exactDupCorpus(t.documents)
        val segs = corpus
          .withColumn("toks", regexp_extract_all(
            graft.functions.TextFunctions.normalizeText(col("text")), lit("\\S+"), lit(0)))
          .withColumn("nseg",
            greatest(ceil(size(col("toks")) / lit(segTok.toDouble)).cast("long"), lit(1L)))
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0L), col("nseg") - 1),
              i => array_join(
                slice(col("toks"), (i * segTok + 1).cast("int"), lit(segTok)), " "))))
          .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
            col("col").as("seg"))
        val firsts = segs.groupBy(col("seg"))
          .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
        segs.join(firsts, Seq("seg"))
          .withColumn("kept",
            (struct(col("doc_id"), col("seg_idx")) === col("first")).cast("int"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_segments"),
            sum(col("kept")).cast("long").as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("kept") === 1, struct(col("seg_idx"), col("seg"))))),
                x => x.getField("seg")),
              " ").as("text_kept"))
          .orderBy(col("doc_id"))
      },
      Some(
        "WITH " + graft.dedup.DedupOps.exactDupCorpusSql + ",\n" +
        """t AS (
          |  SELECT doc_id,
          |         regexp_extract_all(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS toks
          |  FROM corpus),
          |segs AS (
          |  SELECT doc_id, u.idx AS seg_idx, u.seg AS seg
          |  FROM (SELECT doc_id,
          |               unnest([{'idx': i, 'seg': array_to_string(toks[(i*20+1):(i*20+20)], ' ')}
          |                       FOR i IN range(0, greatest(CAST(ceil(len(toks) / 20.0) AS INT), 1))]) AS u
          |        FROM t)),
          |firsts AS (
          |  SELECT seg, min(ROW(doc_id, seg_idx)) AS first FROM segs GROUP BY seg),
          |k AS (
          |  SELECT s.doc_id, s.seg_idx, s.seg,
          |         CASE WHEN ROW(s.doc_id, s.seg_idx) = f.first THEN 1 ELSE 0 END AS kept
          |  FROM segs s JOIN firsts f USING (seg))
          |SELECT doc_id, count(*) AS n_segments,
          |       CAST(sum(kept) AS BIGINT) AS n_kept,
          |       coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept = 1), '')
          |         AS text_kept
          |FROM k
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t14: benchmark decontamination — flag training documents sharing
    // any word-3-gram with a held-out eval set (doc_id % 10 = 0), the
    // standard test-set-overlap hygiene step before training. The eval
    // gram set is DISTINCT and joined left_semi-style per (doc, gram);
    // at this scale Catalyst broadcasts it, at 100 TB (an eval suite of
    // ~1e8 grams) AQE falls back to a shuffle join on the gram key —
    // both correct, the plan degrades gracefully. Zero-overlap docs are
    // preserved via the left join + coalesce, so the output is a total
    // verdict over the training split.
    GraftQuery(
      "t14_decontaminate",
      "flag training docs sharing any word-3-gram with the eval split",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // native sorted-distinct gram HASHES (word_ngram_hashes): no gram
        // strings are built or shuffled — the join key is a long. Counts
        // equal the oracle's string-gram counts modulo 64-bit collisions
        // (the d03 precedent); the HOF string formulation is the spec
        // cross-check.
        val grams = t.documents
          .select(col("doc_id"),
            call_function("word_ngram_hashes", col("text"), lit(3)).as("gs"))
        val evalGrams = grams.filter(col("doc_id") % 10 === 0)
          .select(explode(col("gs")).as("g")).distinct()
        val train = grams.filter(col("doc_id") % 10 =!= 0)
        val hits = train.select(col("doc_id"), explode(col("gs")).as("g"))
          .join(evalGrams, Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
        train.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("hits"), lit(0L)).as("n_contaminated"),
            when(coalesce(col("hits"), lit(0L)) > 0, lit(1L)).otherwise(lit(0L))
              .as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH grams AS (
          |  SELECT doc_id,
          |         list_distinct([array_to_string(ws[i:i+2], ' ')
          |                        FOR i IN range(1, greatest(len(ws) - 1, 2))]) AS gs
          |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents)),
          |eg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 10 = 0),
          |tr AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 10 <> 0),
          |hits AS (
          |  SELECT doc_id, count(*) AS hits FROM tr
          |  WHERE g IN (SELECT g FROM eg) GROUP BY doc_id)
          |SELECT g.doc_id, CAST(len(g.gs) AS BIGINT) AS n_grams,
          |       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_contaminated,
          |       CAST(CASE WHEN coalesce(h.hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
          |         AS contaminated
          |FROM grams g LEFT JOIN hits h USING (doc_id)
          |WHERE g.doc_id % 10 <> 0
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t15: PII detection + redaction — the scrubbing pass every
    // training-data pipeline runs before text leaves the trust boundary
    // (emails, phone numbers, IP addresses → typed placeholders). The
    // driver corpus is digit-free word salad, so PII is planted
    // DETERMINISTICALLY from doc_id (the q43 planted-corruption
    // convention) — expressible identically in both engines, making the
    // whole detect→count→redact path fully oracle-able with non-trivial
    // counts (1/3 of docs gain an email, 1/5 a phone, 1/7 an IP).
    // Patterns stay in the Java-regex ∩ RE2 common subset (char
    // classes, bounded repeats, \b — no lookaround, no backrefs) so
    // DuckDB's regexp_count/regexp_replace mirror byte-for-byte; the
    // three redactions apply in a fixed order and are non-overlapping
    // by construction (placeholders are digit-free, so no replacement
    // creates a later match). Plan shape: ONE per-row projection —
    // whole-stage codegen, zero shuffles, scales with input splits; at
    // 100 TB the regex cost is linear in corpus bytes, exactly like t01.
    GraftQuery(
      "t15_pii_redact",
      "detect + redact emails/phones/IPs planted deterministically per doc_id",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(col("doc_id"),
            // ptext let-bound through a single-element transform lambda
            // (the gopherSignals trick) so the planted concat is
            // computed once per row, not re-inlined per PII class.
            inline(transform(array(plantedPiiText), p => struct(
              regexp_count(p, lit(piiEmail)).cast("long").as("n_emails"),
              regexp_count(p, lit(piiPhone)).cast("long").as("n_phones"),
              regexp_count(p, lit(piiIp)).cast("long").as("n_ips"),
              redactPii(p).as("redacted")))))
          .withColumn("pii_total",
            col("n_emails") + col("n_phones") + col("n_ips"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH planted AS (
          |  SELECT doc_id,
          |         text ||
          |         CASE WHEN doc_id % 3 = 0
          |              THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now'
          |              ELSE '' END ||
          |         CASE WHEN doc_id % 5 = 0
          |              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
          |                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |              ELSE '' END ||
          |         CASE WHEN doc_id % 7 = 0
          |              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
          |                   || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
          |                   || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
          |              ELSE '' END AS ptext
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |       CAST(len(regexp_extract_all(ptext, '\b555-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
          |       CAST(len(regexp_extract_all(ptext, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
          |       regexp_replace(
          |         regexp_replace(
          |           regexp_replace(ptext,
          |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |           '\b555-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
          |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted,
          |       CAST(len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |            + len(regexp_extract_all(ptext, '\b555-[0-9]{3}-[0-9]{4}\b'))
          |            + len(regexp_extract_all(ptext, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS pii_total
          |FROM planted
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t16: hashed-feature linear classifier scoring — the fastText-style
    // quality-classifier SERVING path (hash each token into a bucket,
    // look up the bucket weight, sum, threshold) that corpus pipelines
    // run over every document. Weights here are a fixed public formula
    // of the bucket id (a multiplicative scramble into [-1000, 1000]
    // micro-units) standing in for trained parameters — training is out
    // of engine scope; hashing + lookup + reduction IS the operator, and
    // with formula weights the whole path is exactly replayable in the
    // oracle. Bucket = first-6-hex-chars of md5(token) mod 1024: both
    // engines parse the same hex prefix (Spark `conv`, DuckDB '0x' cast)
    // and all arithmetic is BIGINT (max intermediate 1023·2654435761 ≪
    // 2^63) — integer end-to-end, so per-doc sums are order-independent
    // and hash-safe. No sigmoid on purpose: exp() differs by ulps across
    // libm implementations; the integer logit carries the same decision.
    // Plan: ONE per-row generator projection (tokenize → transform →
    // aggregate), zero shuffles — scales with input splits like t01.
    GraftQuery(
      "t16_quality_classifier",
      "hashed-bucket linear classifier: integer logit + keep/drop per document",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(col("doc_id"),
            inline(transform(
              array(regexp_extract_all(lower(col("text")), lit(wsToken), lit(0))),
              toks => struct(
                size(toks).cast("long").as("n_feats"),
                logitOf(toks).as("logit_micro")))))
          .withColumn("verdict",
            when(col("logit_micro") > 0, "keep").otherwise("drop"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(len(ts) AS BIGINT) AS n_feats,
          |       CAST(coalesce(list_sum(
          |         [(('0x' || substr(md5(t), 1, 6))::BIGINT % 1024) * 2654435761 % 2001 - 1000
          |          FOR t IN ts]), 0) AS BIGINT) AS logit_micro,
          |       CASE WHEN coalesce(list_sum(
          |         [(('0x' || substr(md5(t), 1, 6))::BIGINT % 1024) * 2654435761 % 2001 - 1000
          |          FOR t IN ts]), 0) > 0 THEN 'keep' ELSE 'drop' END AS verdict
          |FROM toks
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t22: DSIR-style importance-weighted data selection (Xie et al.
    // 2023, "Data Selection for Language Models via Importance
    // Resampling" — public paper): score every document by how much its
    // hashed-unigram distribution looks like a TARGET distribution
    // (here: the lang='en' slice) versus the RAW corpus, then keep the
    // top-100. Per-bucket log importance ratio with add-one smoothing,
    //   lr(b) = ln( (cnt_t(b)+1)·(R+B) / ((cnt_r(b)+1)·(T+B)) ),
    // is quantized to integer micro-units ON THE 256-ROW BUCKET TABLE
    // (the t12 discipline: only the tiny dimension does float math, the
    // corpus-scale sum is an exact BIGINT in any aggregation order).
    // Bucket = md5-prefix mod 256 (t16's hash family).
    //
    // Plan shape: tokenize+bucket explode → ONE groupBy(bucket) hash agg
    // computing raw and target counts together (conditional sum — not
    // two corpus passes), totals from the 256-row frame, broadcast the
    // 256-row log-ratio dimension back onto the token stream, per-doc
    // BIGINT sum, TakeOrderedAndProject top-100. Two shuffles (bucket,
    // doc_id), both map-side-combined; the selection is a bounded heap,
    // not a global sort — the 100 TB shape. The BIGINT products in the
    // ratio hold to ~2^53 tokens per side; beyond that, production
    // swaps the one-division form for ln(a)-ln(b) at the cost of exact
    // oracle replay.
    GraftQuery(
      "t22_dsir_selection",
      "DSIR hashed importance weights vs lang='en' target; top-100 selection",
      (spark, dir) => dsirWeights(Tables(spark, dir).documents)
        .orderBy(col("weight_e6").desc, col("doc_id"))
        .limit(100),
      Some(
        s"""WITH corpus AS (SELECT doc_id, lang, text FROM documents),
          |$dsirSqlOverCorpus
          |SELECT doc_id, lang, n_tokens, weight_e6
          |FROM dsir
          |ORDER BY weight_e6 DESC, doc_id
          |LIMIT 100""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t23: within-document repetition signals — the OTHER half of the
    // Gopher repetition family (Rae et al. 2021, public paper): t08
    // measures the single most-frequent token/bigram; this measures the
    // fraction of n-gram occurrences that are DUPLICATED inside the
    // document (the "dup 5-gram / dup 10-gram fraction" gates applied
    // for n ∈ 5..10 in the paper — a page of boilerplate repeated twice
    // sails under t08's top-1 fractions but lights these up). Fractions
    // are integer micro-units via BIGINT floor division — no float
    // anywhere, so the compare is exact.
    //
    // Corpus: the synthetic documents repeat single words but almost
    // never an exact 5-gram, so the signal is planted (the t15/q43/d12
    // convention): every 3rd document gets its own first 25 tokens
    // appended — deterministic from doc_id + text, byte-identical in
    // both engines, and it pushes those docs' dup fractions over the
    // gate so the keep/drop split is real.
    //
    // Plan shape: per n ∈ {5, 10}, ONE generator projection builds the
    // sliding grams per row (guarded: Spark's sequence() runs DESCENDING
    // when start > stop, so short docs must produce an empty array, not
    // a [1,0] sequence), then groupBy(doc_id, gram) → groupBy(doc_id) —
    // two map-side-combined shuffles, both keyed by doc_id first, so
    // AQE coalesces them onto the same layout. Gram-less docs survive
    // via a left join from `documents` with zero-fills (a doc too short
    // to repeat anything passes the gate by definition). Work is
    // linear in corpus tokens — the word-count shape, no pairwise term.
    GraftQuery(
      "t23_repetition_signals",
      "within-doc duplicated 5/10-gram occurrence fractions + Gopher-style keep gate",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val planted = t.documents.select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" "),
              concat_ws(" ",
                slice(regexp_extract_all(col("text"), lit(wsToken), lit(0)),
                  1, 25))))
            .otherwise(col("text")).as("text"))
        def dupStats(n: Int): org.apache.spark.sql.DataFrame =
          planted
            .select(col("doc_id"),
              regexp_extract_all(lower(col("text")), lit(wsToken), lit(0))
                .as("toks"))
            .select(col("doc_id"),
              explode(when(size(col("toks")) >= n,
                transform(sequence(lit(1), size(col("toks")) - (n - 1)),
                  i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
                .otherwise(array().cast("array<string>"))).as("gram"))
            .groupBy(col("doc_id"), col("gram"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("doc_id"))
            .agg(sum(col("cnt")).as(s"n_grams$n"),
              sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L))
                .as(s"dup$n"))
        t.documents.select(col("doc_id"))
          .join(dupStats(5), Seq("doc_id"), "left")
          .join(dupStats(10), Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_grams5", "dup5", "n_grams10", "dup10"))
          .selectExpr("doc_id", "n_grams5", "dup5",
            "CASE WHEN n_grams5 = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE dup5 * 1000000 div n_grams5 END AS dup5_frac_e6",
            "n_grams10", "dup10",
            "CASE WHEN n_grams10 = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE dup10 * 1000000 div n_grams10 END AS dup10_frac_e6")
          // Gopher-style gate: ≤30% duplicated 5-gram mass, ≤10% for 10-grams
          .withColumn("keep",
            (col("dup5_frac_e6") <= 300000L) && (col("dup10_frac_e6") <= 100000L))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH planted AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 3 = 0
          |              THEN text || ' ' ||
          |                   array_to_string((regexp_extract_all(text, '\S+'))[1:25], ' ')
          |              ELSE text END AS text
          |  FROM documents),
          |tok AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
          |  FROM planted),
          |g5 AS (
          |  SELECT doc_id, unnest([array_to_string(toks[i:i+4], ' ')
          |           FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS gram
          |  FROM tok),
          |gc5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2),
          |s5 AS (
          |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams5,
          |         CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup5
          |  FROM gc5 GROUP BY 1),
          |g10 AS (
          |  SELECT doc_id, unnest([array_to_string(toks[i:i+9], ' ')
          |           FOR i IN range(1, greatest(len(toks) - 8, 1))]) AS gram
          |  FROM tok),
          |gc10 AS (SELECT doc_id, gram, count(*) AS cnt FROM g10 GROUP BY 1, 2),
          |s10 AS (
          |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams10,
          |         CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup10
          |  FROM gc10 GROUP BY 1),
          |j AS (
          |  SELECT d.doc_id,
          |         coalesce(n_grams5, 0) AS n_grams5, coalesce(dup5, 0) AS dup5,
          |         coalesce(n_grams10, 0) AS n_grams10, coalesce(dup10, 0) AS dup10
          |  FROM documents d LEFT JOIN s5 USING (doc_id) LEFT JOIN s10 USING (doc_id))
          |SELECT doc_id, n_grams5, dup5,
          |       CASE WHEN n_grams5 = 0 THEN CAST(0 AS BIGINT)
          |            ELSE CAST(dup5 * 1000000 // n_grams5 AS BIGINT) END AS dup5_frac_e6,
          |       n_grams10, dup10,
          |       CASE WHEN n_grams10 = 0 THEN CAST(0 AS BIGINT)
          |            ELSE CAST(dup10 * 1000000 // n_grams10 AS BIGINT) END AS dup10_frac_e6,
          |       (CASE WHEN n_grams5 = 0 THEN 0 ELSE dup5 * 1000000 // n_grams5 END <= 300000
          |        AND CASE WHEN n_grams10 = 0 THEN 0 ELSE dup10 * 1000000 // n_grams10 END <= 100000) AS keep
          |FROM j
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t24: bigram language-model scoring — t12's unigram perplexity
    // proxy upgraded to a conditional model: each document scores by
    // Σ ln p(w_i | w_{i-1}) with add-one smoothing,
    //   p(w2|w1) = (c(w1,w2) + 1) / (c1(w1) + V),
    // where c1 counts w1 AS A CONTEXT (= Σ_w2 c(w1,w2), derived from
    // the bigram-type table — not a second corpus pass) and V is the
    // bigram vocabulary (distinct w1 ∪ w2). The per-TYPE log-prob is
    // quantized to integer micro-units on the vocabulary-sized
    // dimension before the corpus-scale per-doc summation (the
    // t12/t22 discipline: floats only on the small table; BIGINT sums
    // are exact in any aggregation order, so the cross-engine hash
    // holds).
    //
    // Plan shape: one generator projection builds per-row (w1,w2)
    // structs (descending-sequence guard as in t23), one
    // groupBy(w1,w2) hash agg for types, c1/V derived from that
    // vocab-sized frame, the ≤|V²|-row log-prob dimension joined
    // back onto the bigram stream, one map-side-combined per-doc sum.
    // The scoring join carries NO broadcast() hint: the bigram-TYPE
    // table grows with vocabulary, and an explicit hint never flips —
    // at test SF AQE's runtime stats pick broadcast-hash on their own
    // (PlanShapeSpec asserts it), and at 100 TB the same unhinted join
    // degrades to a shuffle hash join on (w1,w2) with no other plan
    // change; everything else already shuffles only on doc_id.
    // Scales as a word-count job.
    GraftQuery(
      "t24_bigram_logprob",
      "per-document corpus bigram log-likelihood (add-one smoothed, integer micro-logprobs)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val bg = t.documents
          .select(col("doc_id"),
            regexp_extract_all(lower(col("text")), lit(wsToken), lit(0))
              .as("toks"))
          .select(col("doc_id"),
            explode(when(size(col("toks")) >= 2,
              transform(sequence(lit(1), size(col("toks")) - 1),
                i => struct(element_at(col("toks"), i).as("w1"),
                  element_at(col("toks"), i + 1).as("w2"))))
              .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
              .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        val vocab = c2.select(col("w1").as("w"))
          .unionByName(c2.select(col("w2").as("w")))
          .distinct().agg(count(lit(1)).as("v"))
        val lp = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"),
            round(log((col("c2") + 1L).cast("double") /
                (col("c1") + col("v")).cast("double")) * lit(1000000))
              .cast("long").as("lp_e6"))
        val scored = bg.join(lp, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_e6")).as("sum_lp_e6"))
        t.documents.select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_bigrams", "sum_lp_e6"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
          |  FROM documents),
          |bg0 AS (
          |  SELECT doc_id, unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
          |           FOR i IN range(1, greatest(len(toks), 1))]) AS b
          |  FROM tok),
          |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
          |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
          |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
          |vv AS (
          |  SELECT CAST(count(*) AS BIGINT) AS v
          |  FROM (SELECT w1 AS w FROM c2 UNION SELECT w2 FROM c2)),
          |lp AS (
          |  SELECT w1, w2,
          |         CAST(round(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
          |              * 1000000) AS BIGINT) AS lp_e6
          |  FROM c2 JOIN c1 USING (w1) CROSS JOIN vv),
          |d AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |         CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6
          |  FROM bg JOIN lp USING (w1, w2) GROUP BY 1)
          |SELECT doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
          |       coalesce(sum_lp_e6, 0) AS sum_lp_e6
          |FROM documents LEFT JOIN d USING (doc_id)
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t25: per-source lexical diversity profile — the corpus-triage
    // metrics a mix designer reads before weighting sources: vocabulary
    // size, type-token ratio (distinct terms per token), hapax ratio
    // (fraction of the vocabulary seen exactly once — high = diverse or
    // noisy, low = templated), and the top single term's token share
    // (boilerplate detector at source granularity, complementing t08's
    // per-document gate). All ratios in integer micro-units by BIGINT
    // floor division — exact cross-engine.
    //
    // Plan shape: two map-side-combined hash aggregates — (source,
    // term) term frequencies, then per-source rollup over the
    // vocabulary-sized frame; no window, no join. A billion-row source
    // reduces its term counts map-side — the word-count shape.
    GraftQuery(
      "t25_source_lexical_profile",
      "per-source vocab size, type-token ratio, hapax ratio, top-term share (integer micro-units)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.documents
          .select(col("source"),
            explode(regexp_extract_all(lower(col("text")), lit(wsToken), lit(0)))
              .as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .groupBy(col("source"))
          .agg(sum(col("tf")).as("n_tokens"),
            count(lit(1)).as("n_vocab"),
            sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
            max(col("tf")).as("top_tf"))
          .selectExpr("source", "n_tokens", "n_vocab", "n_hapax", "top_tf",
            "n_vocab * 1000000 div n_tokens AS ttr_e6",
            "n_hapax * 1000000 div n_vocab AS hapax_e6",
            "top_tf * 1000000 div n_tokens AS top_share_e6")
          .orderBy(col("source"))
      },
      Some(
        """WITH tf AS (
          |  SELECT source, term, count(*) AS tf FROM (
          |    SELECT source,
          |           unnest(regexp_extract_all(lower(text), '\S+')) AS term
          |    FROM documents)
          |  GROUP BY 1, 2),
          |prof AS (
          |  SELECT source,
          |         CAST(sum(tf) AS BIGINT) AS n_tokens,
          |         CAST(count(*) AS BIGINT) AS n_vocab,
          |         CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
          |         CAST(max(tf) AS BIGINT) AS top_tf
          |  FROM tf GROUP BY 1)
          |SELECT source, n_tokens, n_vocab, n_hapax, top_tf,
          |       CAST(n_vocab * 1000000 // n_tokens AS BIGINT) AS ttr_e6,
          |       CAST(n_hapax * 1000000 // n_vocab AS BIGINT) AS hapax_e6,
          |       CAST(top_tf * 1000000 // n_tokens AS BIGINT) AS top_share_e6
          |FROM prof
          |ORDER BY source""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t26: decontamination with an EXPLICIT bloom prefilter — t14's
    // task (flag training docs sharing word-n-grams with the eval
    // split; n = 5 here) re-planned for the 100 TB asymmetry: the eval
    // gram set is tiny and the training gram stream is the corpus, so
    // the right plan broadcasts a ~KB bloom built from the eval grams
    // and kills non-member training grams MAP-SIDE, before any
    // exchange — where t14's plain semi-join shuffles the full
    // training gram stream. Spark's runtime-filter machinery only
    // injects this pattern under heuristics tuned for joins it can
    // see through; here the bloom is EXPLICIT (bloom_filter_agg /
    // might_contain, exposed via GraftExtensions). Correctness is
    // unchanged by the bloom: no false negatives, and the exact
    // semi-join downstream removes false positives — so the oracle is
    // the plain exact SQL, and a bloom FP can never change a row.
    // PlanShapeSpec asserts might_contain gates the stream before the
    // join.
    GraftQuery(
      "t26_decontaminate_bloom",
      "t14's gram decontamination behind an explicit broadcast-bloom prefilter (exact result)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val grams = t.documents
          .select(col("doc_id"),
            call_function("word_ngram_hashes", col("text"), lit(5)).as("gs"))
        val evalGrams = graft.InternalCaches.track(
          grams.filter(col("doc_id") % 10 === 0)
            .select(explode(col("gs")).as("g")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // Size the bloom from the ACTUAL eval-gram cardinality (persisted
        // — count + bloom build + semi-join all reuse one materialization)
        // instead of a fixed 100k capacity: a fixed n silently degrades
        // the FP rate (and so the prefilter's kill ratio) at larger SFs.
        // ~8 bits/item ≈ 2% FP; floors keep degenerate corpora sane.
        val nEval = evalGrams.count()
        // the build side materializes to the driver as a ~KB-scale binary
        // (exactly how injected runtime filters broadcast their bloom) —
        // might_contain requires a CONSTANT bloom, so it rides the plan
        // as a literal; the driver never sees gram rows, only the filter
        val bfBytes: Array[Byte] =
          if (nEval == 0) null
          else {
            val nItems = math.max(nEval, 1000L)
            evalGrams.agg(
              call_function("bloom_filter_agg",
                xxhash64(col("g")), lit(nItems), lit(nItems * 8)).as("bf"))
              .head().getAs[Array[Byte]]("bf")
          }
        val train = grams.filter(col("doc_id") % 10 =!= 0)
        val exploded = train.select(col("doc_id"), explode(col("gs")).as("g"))
        // Empty eval split → bloom_filter_agg yields NULL; a null literal
        // would fail might_contain's analysis, so skip the prefilter (the
        // exact semi-join below is then trivially empty — correct).
        val prefiltered =
          if (bfBytes == null) exploded
          else exploded.filter(
            call_function("might_contain", lit(bfBytes), xxhash64(col("g"))))
        val hits = prefiltered
          .join(evalGrams, Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
        train.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("hits"), lit(0L)).as("n_contaminated"),
            when(coalesce(col("hits"), lit(0L)) > 0, lit(1L)).otherwise(lit(0L))
              .as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH grams AS (
          |  SELECT doc_id,
          |         list_distinct([array_to_string(ws[i:i+4], ' ')
          |                        FOR i IN range(1, greatest(len(ws) - 3, 2))]) AS gs
          |  FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents)),
          |eg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 10 = 0),
          |tr AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 10 <> 0),
          |hits AS (
          |  SELECT doc_id, count(*) AS hits FROM tr
          |  WHERE g IN (SELECT g FROM eg) GROUP BY doc_id)
          |SELECT g.doc_id, CAST(len(g.gs) AS BIGINT) AS n_grams,
          |       CAST(coalesce(h.hits, 0) AS BIGINT) AS n_contaminated,
          |       CAST(CASE WHEN coalesce(h.hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
          |         AS contaminated
          |FROM grams g LEFT JOIN hits h USING (doc_id)
          |WHERE g.doc_id % 10 <> 0
          |ORDER BY doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t27: BM25 ranked retrieval — the inverted-index keyword search a
    // corpus team runs constantly (find the docs about X; seed a RAG
    // eval; audit what a filter removed). Okapi BM25 (k1=1.2, b=0.75)
    // over a literal query set; scores quantized to integer micro-units
    // PER (query, term, doc) match BEFORE the per-doc sum, so the final
    // score is an exact BIGINT sum (order-free — the t09 discipline
    // extended to multi-term queries: float addition order across terms
    // can never differ between engines because no float is ever added).
    //
    // Plan shape for 100 TB: the broadcast query-term list kills every
    // non-query posting MAP-SIDE, before the tf shuffle — the exploded
    // token stream that reaches the exchange is only the postings of
    // the |Q| query terms (this IS the inverted-index probe, expressed
    // declaratively: Catalyst pushes the semi-join below the explode's
    // aggregation). df comes from those same postings (df is only
    // needed for query terms); corpus-wide N and Σdl reduce map-side to
    // one broadcast row. Final per-query top-k runs through the bounded
    // GroupedTopK heap (not a window): no per-query sort, partial heaps
    // merge map-side, safe when a query term matches half the corpus.
    GraftQuery(
      "t27_bm25_search",
      "BM25 top-5 docs per query (k1=1.2, b=0.75), integer micro-unit scores, bounded-heap top-k",
      (spark, dir) =>
        bm25TopK(Tables(spark, dir).documents, bm25QueryTermsDf(spark), k = 5),
      Some(
        s"""WITH $bm25RankSql
          |SELECT CAST(query_id AS BIGINT) AS query_id, rk, doc_id, score_e6
          |FROM bm_ranked WHERE rk <= 5
          |ORDER BY query_id, rk""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t28: curriculum ordering — the delivery order for a length-staged
    // training schedule (the classic short→long curriculum, Bengio et
    // al. 2009): three length stages cut at the corpus terciles, a
    // DETERMINISTIC seeded shuffle within each stage (training-order
    // reproducibility is a run artifact — re-materializing the corpus
    // must reproduce the batch sequence bit-for-bit, so the shuffle key
    // is md5(doc_id:seed), never rand()). Stage cutoffs are ONE
    // percentile_disc aggregate broadcast back (never a per-row rank);
    // exact percentile buffers distinct values per group, which is SAFE
    // here at any corpus size because document length is a bounded
    // domain (vs q85's open price domain, where the sketch family is
    // the 100 TB path).
    //
    // The 100 TB point is HOW the total order is delivered: the final
    // orderBy(stage, shuf) compiles to a RANGE exchange + per-partition
    // sort — Spark's distributed total-order idiom — so the written
    // files inherit curriculum order end-to-end with no single-partition
    // window anywhere (a row_number "global order" column would
    // serialize the corpus through one task; the (stage, shuf) sort KEY
    // carries the same information at full parallelism). PlanShapeSpec
    // pins rangepartitioning + no Window.
    GraftQuery(
      "t28_curriculum_order",
      "length-staged curriculum with seeded intra-stage shuffle, delivered as a range-sort",
      (spark, dir) => {
        val docs = Tables(spark, dir).documents
        val cuts = docs.agg(
          expr("percentile_disc(1.0/3) WITHIN GROUP (ORDER BY n_chars)")
            .cast("long").as("c1"),
          expr("percentile_disc(2.0/3) WITHIN GROUP (ORDER BY n_chars)")
            .cast("long").as("c2"))
        docs.crossJoin(broadcast(cuts))
          .select(
            col("doc_id"),
            when(col("n_chars") <= col("c1"), 0L)
              .when(col("n_chars") <= col("c2"), 1L)
              .otherwise(2L).as("stage"),
            conv(substring(
              md5(concat(col("doc_id").cast("string"), lit(":s9"))), 1, 15),
              16, 10).cast("long").as("shuf"))
          .orderBy(col("stage"), col("shuf"), col("doc_id"))
      },
      Some(
        """WITH cuts AS (
          |  SELECT CAST(quantile_disc(n_chars, 1.0/3) AS BIGINT) AS c1,
          |         CAST(quantile_disc(n_chars, 2.0/3) AS BIGINT) AS c2
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(CASE WHEN n_chars <= c1 THEN 0
          |                 WHEN n_chars <= c2 THEN 1
          |                 ELSE 2 END AS BIGINT) AS stage,
          |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s9'), 1, 15))::BIGINT
          |         AS shuf
          |FROM documents CROSS JOIN cuts
          |ORDER BY stage, shuf, doc_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t30: token-balanced shard assignment — the step BETWEEN p04's mix
    // selection and t20's sequence packing: the chosen corpus must be
    // split across N training shards (data-parallel input streams) with
    // near-equal token mass, or the slowest shard gates every epoch.
    // Deterministic striping of the longest-first order (rank by tokens
    // DESC, shard = (rank-1) mod N) is the classic LPT-style
    // approximation with a PROVABLE bound: because ranks r and r+N-1
    // bracket each round and the per-round deficits telescope, max
    // shard load − min shard load ≤ max single-doc tokens (asserted in
    // the spec alongside an exact driver recompute). True greedy
    // least-loaded-bin is sequential (each placement depends on all
    // previous); striping is its order-free twin — the reason it is THE
    // sharder used at corpus scale.
    //
    // Scale shape: the global longest-first rank is the q09 prefix-sum
    // technique (range-partition by (tokens DESC, doc_id) + local sort
    // + per-partition offsets broadcast back) — never a
    // single-partition window; the per-shard rollup is one map-side-
    // combined hash agg on N keys. Nothing in the plan holds more than
    // one partition's rows.
    GraftQuery(
      "t30_shard_assignment",
      "token-balanced striped sharding: longest-first rank mod 8, per-shard doc/token totals",
      (spark, dir) => {
        val toks = Tables(spark, dir).documents
          .select(col("doc_id"),
            regexp_count(col("text"), lit(wsToken)).cast("long").as("n_tok"))
        graft.etl.SurrogateKeys
          .denseIdsBy(toks, Seq(col("n_tok").desc, col("doc_id").asc), "rk")
          .groupBy(((col("rk") - 1) % 8).as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("tokens_total"),
            max(col("n_tok")).as("max_doc_tokens"))
          .orderBy(col("shard"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
          |  FROM documents),
          |ranked AS (
          |  SELECT doc_id, n_tok,
          |         row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rk
          |  FROM toks)
          |SELECT CAST((rk - 1) % 8 AS BIGINT) AS shard,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
          |       CAST(max(n_tok) AS BIGINT) AS max_doc_tokens
          |FROM ranked
          |GROUP BY 1
          |ORDER BY shard""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // t31: temperature-based source mixing — the multilingual/multi-
    // source sampling rule (Conneau & Lample 2019: p_s ∝ n_s^(1/T)):
    // raw proportional sampling starves low-resource sources, uniform
    // sampling drowns everything in the tail, temperature interpolates.
    // T = 2 exactly (α = 1/2), because x^(1/2) is the ONE temperature a
    // cross-engine oracle can carry: IEEE 754 REQUIRES sqrt to be
    // correctly rounded (a deterministic function of the bits), while
    // pow/exp/ln are libm-specific (the same reason t16 scores logits
    // without a sigmoid). floor(sqrt(n)·1000) is therefore bit-identical
    // in Spark and DuckDB; everything after it is integer floor
    // division. The outputs a mix designer reads: per-source sampling
    // probability p_e6 and the implied epochs over each source for a
    // 1M-token budget (epochs > 1 ⇒ the source is oversampled/repeated
    // — the quantity temperature sampling exists to control).
    //
    // Scale shape: ONE map-side-combined hash agg on source computes
    // docs + token mass (word-count shape, no explode — regexp_count
    // per row); the weight/normalize/epoch arithmetic runs on the
    // dimension-sized per-source table with a single-row total
    // broadcast. Nothing after the first agg is corpus-bound.
    GraftQuery(
      "t31_temperature_mix",
      "temperature-T=2 source sampling: integer-exact sqrt weights, p_e6, implied epochs per 1M tokens",
      (spark, dir) => {
        val per = Tables(spark, dir).documents
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(regexp_count(col("text"), lit(wsToken)).cast("long"))
              .as("n_tokens"))
          .withColumn("w_e3",
            floor(sqrt(col("n_tokens").cast("double")) * 1000).cast("long"))
        val tot = per.agg(sum(col("w_e3")).as("w_tot"))
        per.crossJoin(broadcast(tot)) // single-row grand total
          .select(col("source"), col("n_docs"), col("n_tokens"), col("w_e3"),
            expr("w_e3 * 1000000L DIV w_tot").as("p_e6"),
            expr("(w_e3 * 1000000L DIV w_tot) * 1000L DIV n_tokens")
              .as("epochs_e3"))
          .orderBy(col("source"))
      },
      Some(
        """WITH per AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |         CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
          |           AS n_tokens
          |  FROM documents GROUP BY source),
          |w AS (
          |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)
          |              AS w_e3
          |  FROM per),
          |tot AS (SELECT CAST(sum(w_e3) AS BIGINT) AS w_tot FROM w)
          |SELECT source, n_docs, n_tokens, w_e3,
          |       CAST(w_e3 * 1000000 // w_tot AS BIGINT) AS p_e6,
          |       CAST((w_e3 * 1000000 // w_tot) * 1000 // n_tokens AS BIGINT)
          |         AS epochs_e3
          |FROM w CROSS JOIN tot
          |ORDER BY source""".stripMargin)
    )
  )

  /** t27's literal query set — single-sourced so the hybrid fusion entry
    * (SimilarityOps s23) ranks the SAME lexical queries. */
  // lazy: `all` above interpolates bm25RankSql into t27's oracle during
  // object init — a strict val declared below `all` would still be null
  // at that point (Scala initializes vals in declaration order)
  private[graft] lazy val Bm25QueryTerms: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "merge", 0L -> "join",
    1L -> "stream", 1L -> "window", 1L -> "batch",
    2L -> "customer", 2L -> "order", 2L -> "part")

  private[graft] def bm25QueryTermsDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(Bm25QueryTerms).toDF("query_id", "term")

  /** The BM25 ranking as a reusable DuckDB CTE chain (t27's oracle,
    * factored so s23's fusion oracle composes the identical lexical
    * ranking instead of duplicating it). Interpolate after `WITH`;
    * exposes `bm_ranked(query_id, doc_id, score_e6, rk)` ranked per
    * query (score desc, doc_id asc), uncut — consumers apply their own
    * `rk <=` bound. */
  private[graft] lazy val bm25RankSql: String = {
    val values = Bm25QueryTerms
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""bm_q(query_id, term) AS (VALUES $values),
      |bm_d AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
      |         FROM documents),
      |bm_stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                    CAST(sum(len(toks)) AS BIGINT) AS sum_dl FROM bm_d),
      |bm_tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
      |                  unnest(toks) AS term FROM bm_d),
      |bm_tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf FROM bm_tok
      |          WHERE term IN (SELECT term FROM bm_q) GROUP BY doc_id, term),
      |bm_dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM bm_tf GROUP BY term),
      |bm_contrib AS (
      |  SELECT bm_q.query_id, bm_tf.doc_id,
      |         CAST(round(
      |           ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(bm_dfq.df AS DOUBLE) + 0.5)
      |                    / (CAST(bm_dfq.df AS DOUBLE) + 0.5))
      |           * (CAST(bm_tf.tf AS DOUBLE) * 2.2)
      |           / (CAST(bm_tf.tf AS DOUBLE) + 1.2 *
      |              (0.25 + 0.75 * CAST(bm_tf.dl AS DOUBLE)
      |               / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
      |           * 1000000) AS BIGINT) AS contrib_e6
      |  FROM bm_tf JOIN bm_q USING (term) JOIN bm_dfq USING (term)
      |  CROSS JOIN bm_stats s),
      |bm_score AS (SELECT query_id, doc_id,
      |                    CAST(sum(contrib_e6) AS BIGINT) AS score_e6
      |             FROM bm_contrib GROUP BY 1, 2),
      |bm_ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |                     ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rk
      |              FROM bm_score)""".stripMargin
  }

  /** Okapi BM25 (k1=1.2, b=0.75) top-k docs per query over an arbitrary
    * (doc_id, text) frame — t27's engine. `queryTerms` is (query_id,
    * term); a term absent from the corpus simply contributes nothing
    * (the posting join is inner), and a query with NO matching term
    * yields no rows for that query. Contributions are quantized to
    * BIGINT micro-units per (query, term, doc) BEFORE the per-doc sum,
    * so the score is an exact integer sum — float addition order can
    * never matter. See the t27 catalog entry for the plan-shape
    * argument (map-side posting kill, broadcast stats, bounded heap). */
  def bm25TopK(docs: DataFrame, queryTerms: DataFrame, k: Int): DataFrame = {
    val d = docs.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit(wsToken), lit(0)).as("toks"))
    val stats = d.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("sum_dl"))
    val tok = d.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
      explode(col("toks")).as("term"))
    // map-side posting kill: only query-term postings reach the shuffle
    val tf = tok
      .join(broadcast(queryTerms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val num = col("tf").cast("double") * lit(2.2)
    val den = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) * col("dl").cast("double") /
        (col("sum_dl").cast("double") / col("n_docs").cast("double")))
    val topk = graft.functions.expressions.GroupedTopK.topK(k)
    tf.join(broadcast(queryTerms), Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_e6",
        round(idf * num / den * lit(1000000)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_e6")).as("score_e6"))
      .groupBy(col("query_id"))
      // BIGINT micro-units < 2^50 → the heap's double score is exact
      .agg(topk(col("score_e6").cast("double"), col("doc_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col").getField("id").as("doc_id"),
        col("col").getField("score").cast("long").as("score_e6"))
      .orderBy(col("query_id"), col("rk"))
  }

  // t15 PII patterns — Java-regex ∩ RE2 subset (see the t15 comment).
  // Shared with p03's composed pipeline (single-sourced per the
  // oracle-parity one-definition rule); the Sql variants are the same
  // patterns in DuckDB string-literal escaping.
  private[text] val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[text] val piiPhone = "\\b555-[0-9]{3}-[0-9]{4}\\b"
  private[text] val piiIp = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[text] val piiEmailSql = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[text] val piiPhoneSql = """\b555-[0-9]{3}-[0-9]{4}\b"""
  private[text] val piiIpSql = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  /** Deterministic planted-PII text (the t15/q43 convention: 1/3 of
    * docs gain an email, 1/5 a phone, 1/7 an IP — all derived from
    * doc_id so both engines plant byte-identical strings). */
  private[graft] def plantedPiiText: Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com now"))).otherwise(""),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""),
    when(col("doc_id") % 7 === 0,
      concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 3) % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(""))

  /** The same planting in DuckDB SQL (interpolate into oracle CTEs). */
  private[text] val plantedPiiSql: String =
    """text ||
      |CASE WHEN doc_id % 3 = 0
      |     THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |     ELSE '' END ||
      |CASE WHEN doc_id % 5 = 0
      |     THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      |          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |     ELSE '' END ||
      |CASE WHEN doc_id % 7 = 0
      |     THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
      |          || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
      |          || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
      |     ELSE '' END""".stripMargin

  /** Fixed-order triple redaction (non-overlapping by construction —
    * placeholders are digit-free, so no replacement creates a later
    * match). */
  private[graft] def redactPii(p: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(p, piiEmail, "<EMAIL>"),
        piiPhone, "<PHONE>"),
      piiIp, "<IP>")

  private[graft] def redactPiiSql(x: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($x, " +
      s"'$piiEmailSql', '<EMAIL>', 'g'), " +
      s"'$piiPhoneSql', '<PHONE>', 'g'), " +
      s"'$piiIpSql', '<IP>', 'g')"

  private[text] def piiTotalOf(p: Column): Column =
    (regexp_count(p, lit(piiEmail)) + regexp_count(p, lit(piiPhone)) +
      regexp_count(p, lit(piiIp))).cast("long")

  private[text] def piiTotalSql(x: String): String =
    s"CAST(len(regexp_extract_all($x, '$piiEmailSql')) " +
      s"+ len(regexp_extract_all($x, '$piiPhoneSql')) " +
      s"+ len(regexp_extract_all($x, '$piiIpSql')) AS BIGINT)"

  /** t16's hashed-bucket formula weight (shared with p03): md5-prefix
    * bucket mod 1024, multiplicative scramble into [-1000, 1000]
    * micro-units — BIGINT end-to-end. */
  private[text] val weightOfTok: Column => Column = (tok: Column) =>
    (conv(substring(md5(tok), 1, 6), 16, 10).cast("long") % 1024L) *
      2654435761L % 2001L - 1000L

  /** Integer logit of a token array (order-independent BIGINT sum). */
  private[text] def logitOf(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, tok) => acc + weightOfTok(tok))

  /** The same logit in DuckDB SQL over a list expression `ts`. */
  private[text] def logitSql(ts: String): String =
    s"CAST(coalesce(list_sum([(('0x' || substr(md5(t), 1, 6))::BIGINT % 1024) " +
      s"* 2654435761 % 2001 - 1000 FOR t IN $ts]), 0) AS BIGINT)"

  /** Gopher-style per-document repetition/quality signals over any
    * (doc_id, text) frame — the reusable core of catalog query t08.
    *
    * One generator projection per row, no shuffle. The repetition
    * numerators come from the native `top_repeat_counts` expression
    * ([[graft.functions.expressions.TopRepeatCountsExpr]]): one hash-map
    * pass in O(|tokens|) per row, replacing the
    * `aggregate(array_distinct, …, filter)` HOF whose
    * O(|distinct|·|tokens|) comparisons made a 100k-token web document a
    * straggler task (VERDICT r3 #1; the HOF survives as the test-scope
    * `graft.HofReference.maxRepeatHof` for the spec cross-check). The toks / counts
    * intermediates are let-bound via single-element `transform` lambdas:
    * a lambda variable is a bound value, so re-referencing it is a
    * lookup — NOT a re-computation the way CollapseProject re-inlines
    * re-referenced projection columns (the d02/s06 blow-up documented at
    * DedupOps.minhashNearDups). */
  def gopherSignals(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toksE = regexp_extract_all(lower(col("text")), lit(wsToken), lit(0))

    val statsRow = transform(array(toksE), arr =>
      element_at(transform(array(call_function("top_repeat_counts", arr)), rc =>
        element_at(transform(array(struct(
          size(arr).cast("long").as("nw"),
          size(array_distinct(arr)).cast("long").as("nd"),
          aggregate(arr, lit(0L), (acc, x) => acc + length(x)).as("nc"),
          rc("top_token_cnt").as("tt"),
          rc("top_bigram_cnt").as("tb"))), c => {
          // denominators floored at 1: a token-less document yields
          // all-zero signals (not NaN), matching the oracle's
          // coalesce-to-0 of its empty-list aggregates
          val nwD = greatest(c("nw"), lit(1L)).cast("double")
          val meanWordLen = c("nc").cast("double") / nwD
          val topTokenFrac = c("tt").cast("double") / nwD
          val topBigramFrac =
            c("tb").cast("double") / greatest(c("nw") - 1L, lit(1L)).cast("double")
          val ttr = c("nd").cast("double") / nwD
          struct(
            c("nw").as("n_words"),
            c("nd").as("n_distinct"),
            c("nc").as("n_tok_chars"),
            c("tt").as("top_token_cnt"),
            c("tb").as("top_bigram_cnt"),
            meanWordLen.as("mean_word_len"),
            topTokenFrac.as("top_token_frac"),
            topBigramFrac.as("top_bigram_frac"),
            ttr.as("type_token_ratio"),
            when(c("nw") >= 20L && meanWordLen >= 3.0 && meanWordLen <= 8.0
              && topTokenFrac <= 0.11 && topBigramFrac <= 0.05 && ttr >= 0.35,
              "keep").otherwise("drop").as("verdict"))
        }), 1)), 1))

    docs.select(col("doc_id"), inline(statsRow))
  }

  /** The quality formula over precomputed count columns — the SINGLE
    * Spark-side source of truth shared by t01 (projected counts) and
    * [[qualityExpr]] (inline counts, used by t10/t11). t10/t11's
    * cross-engine ranking guarantee depends on every user computing the
    * identical double expression; keeping one definition makes drift a
    * compile-visible edit instead of a silent copy divergence. */
  private def qualityFrom(nTokens: Column, nPunct: Column,
      nChars: Column, nStop: Column): Column =
    least(lit(1.0), nTokens / lit(100.0)) *
      (lit(1.0) - nPunct / nChars) *
      (lit(0.5) + lit(0.5) * least(lit(1.0), nStop * lit(5.0) / nTokens))

  /** The t01 quality score as a reusable column over `text` (per-row
    * double arithmetic in a fixed operation order → bit-identical across
    * engines; see t01). */
  private[graft] def qualityExpr: Column = qualityFrom(
    regexp_count(col("text"), lit(wsToken)).cast("long"),
    regexp_count(col("text"), lit(punct)).cast("long"),
    length(col("text")).cast("long"),
    regexp_count(lower(col("text")), lit(enStop)).cast("long"))

  /** DuckDB mirror of the t01 quality signal columns (subquery body) —
    * shared by the t01/t10/t11 oracles (t10/t11 ignore the bpeish
    * column). */
  private def qualitySignalsSql: String =
    """SELECT doc_id, lang,
      |         CAST(length(text) AS BIGINT) AS n_chars_calc,
      |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpeish,
      |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
      |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|a)\b')) AS BIGINT) AS n_stopwords
      |  FROM documents""".stripMargin

  /** DuckDB mirror of [[qualityExpr]] over the signal columns. */
  private def qualitySql: String =
    """least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) *
      |       (CAST(1.0 AS DOUBLE) - CAST(n_punct AS DOUBLE) / CAST(n_chars_calc AS DOUBLE)) *
      |       (CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) *
      |        least(CAST(1.0 AS DOUBLE), CAST(n_stopwords AS DOUBLE) * CAST(5.0 AS DOUBLE) / CAST(n_tokens AS DOUBLE)))""".stripMargin
}
