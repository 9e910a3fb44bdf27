package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables
import graft.queries.GraftQuery
import graft.streaming.EventStreams
import graft.streaming.EventStreams.StateConf

/** Catalog entries for the native DataSource V2 connector ([[JsonlSource]]).
  */
object SourceQueries {

  /** Explicit read schema of the q95 feed — production JSONL readers pass
    * a schema (inference is an extra full pass at corpus scale); the
    * inference path is spec-covered separately (JsonlSourceSpec). */
  private val feedSchema =
    "o_orderkey LONG, o_custkey LONG, o_orderpriority STRING, " +
      "odate STRING, price_cents LONG"

  /** Explicit read schema of the events backlog ([[eventsBacklog3]]),
    * shared by the streaming source (q100) and sink (q108) entries. */
  private val eventsFeedSchema =
    "event_id LONG, user_id LONG, event_type STRING, value_micros LONG"

  /** A 3-file JSONL events backlog, built once per (JVM, dataset):
    * three separately-committed single-file sink jobs, so a 1-file
    * admission cap yields exactly 3 micro-batches (each micro-batch
    * pays a fixed state-store/commit cost; a backlog of N tiny files
    * costs N commits — production feeds size files to the trigger
    * interval for the same reason). Read-only once built — shared by
    * q100 (streaming READ) and q108 (streaming WRITE). */
  private def eventsBacklog3(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.io.TempLayouts.cached(
      "q100_dsv2_stream#" + new java.io.File(dir).getCanonicalPath,
      "graft_dsv2_stream_") { o =>
      val ev = Tables(spark, dir).events
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 1e6).cast("long").as("value_micros"))
      (0 until 3).foreach { s =>
        ev.filter(pmod(col("event_id"), lit(3)) === s).coalesce(1)
          .write.format("graft.sources.JsonlSource").mode("append").save(o)
      }
    }

  val all: Seq[GraftQuery] = Seq(
    // ------------------------------------------------------------------
    // q95: DSv2 connector scan with pushdown — orders lands as an
    // integer-coded JSONL feed (the q94 interchange discipline: dates as
    // ISO strings, money as cents), then is read back through the NATIVE
    // TableProvider (graft.sources.JsonlSource) with a 1 MiB split size
    // so the scan is planned as many byte-range partitions even on one
    // file. The date-range + priority-IN predicates and the 5-column
    // projection are absorbed INTO the reader (SupportsPushDownFilters /
    // RequiredColumns — rows failing the predicate are dropped before
    // materialization; ISO date strings compare correctly as unsigned
    // UTF-8 bytes). The aggregate touches every surviving column, so the
    // parquet-side DuckDB oracle catches any defect in split ownership,
    // JSON conversion, or pushdown semantics.
    GraftQuery(
      "q95_dsv2_jsonl_pushdown",
      "native DSv2 JSONL source: byte-range splits + filter/column pushdown (parquet-side oracle)",
      (spark, dir) => {
        val layout = graft.io.TempLayouts.cached(
          "q95_jsonl#" + new java.io.File(dir).getCanonicalPath,
          "graft_dsv2_jsonl_") { out =>
          Tables(spark, dir).orders
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
              floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
            .write.mode("overwrite").json(out)
        }
        spark.read
          .format("graft.sources.JsonlSource")
          .schema(feedSchema)
          .option("maxSplitBytes", 1L << 20)
          .load(layout)
          .filter(col("odate") >= "1996-01-01" && col("odate") <= "1996-12-31" &&
            col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("o_custkey")).as("n_cust"),
            sum(col("price_cents")).as("sum_cents"),
            min(col("o_orderkey")).as("min_okey"),
            max(col("odate")).as("max_odate"))
          .orderBy(col("o_orderpriority"))
      },
      Some(
        """WITH feed AS (
          |  SELECT o_orderkey, o_custkey, o_orderpriority,
          |         strftime(o_orderdate, '%Y-%m-%d') AS odate,
          |         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
          |  FROM orders)
          |SELECT o_orderpriority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
          |       CAST(sum(price_cents) AS BIGINT) AS sum_cents,
          |       CAST(min(o_orderkey) AS BIGINT) AS min_okey,
          |       max(odate) AS max_odate
          |FROM feed
          |WHERE odate >= '1996-01-01' AND odate <= '1996-12-31'
          |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q98: DSv2 sink round-trip — events flow OUT through the connector's
    // two-phase-commit write path (task-staged files + driver publish,
    // overwrite = TRUNCATE capability) and back IN through its scan, so
    // one oracle hash covers the whole distributed sink protocol: a lost
    // task file, a double-published speculative attempt, a truncate that
    // missed a file, or any JSON serialization defect breaks the
    // parquet-side comparison. Unlike q94 (built-in json writer), both
    // directions here are the native connector. The write re-executes
    // EVERY run — the sink is the operator under test.
    GraftQuery(
      "q98_dsv2_jsonl_sink",
      "events out through the DSv2 sink (2-phase commit) and back through its scan (parquet-side oracle)",
      (spark, dir) => {
        val out = graft.io.TempLayouts.cached(
          "q98_dsv2_sink#" + new java.io.File(dir).getCanonicalPath,
          "graft_dsv2_sink_")(_ => ())
        Tables(spark, dir).events
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"),
            floor(col("value") * 1e6).cast("long").as("value_micros"))
          .write.format("graft.sources.JsonlSource").mode("overwrite").save(out)
        spark.read
          .format("graft.sources.JsonlSource")
          .schema("event_id LONG, user_id LONG, event_type STRING, " +
            "ts_us LONG, value_micros LONG")
          .load(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("value_micros")).as("sum_value_micros"),
            min(col("ts_us")).as("min_ts_us"),
            max(col("ts_us")).as("max_ts_us"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH src AS (
          |  SELECT event_id, user_id, event_type,
          |         epoch_ns(ts) // 1000 AS ts_us,
          |         CAST(floor(value * 1000000) AS BIGINT) AS value_micros
          |  FROM events)
          |SELECT event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          |       CAST(sum(value_micros) AS BIGINT) AS sum_value_micros,
          |       CAST(min(ts_us) AS BIGINT) AS min_ts_us,
          |       CAST(max(ts_us) AS BIGINT) AS max_ts_us
          |FROM src
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q100: the connector's STREAMING read — a real readStream over the
    // native MicroBatchStream: the backlog (three separately-committed
    // sink jobs → ≥3 files) is consumed file-granularly under
    // Trigger.AvailableNow with maxFilesPerTrigger-style admission
    // control (ReadLimit.maxFiles(1) → one file per micro-batch, so the
    // run provably iterates the offset loop instead of swallowing the
    // backlog in one batch), aggregated complete-mode into a memory
    // sink. Deterministic on bounded input → the exact batch oracle.
    // Completes the connector matrix: batch read, batch write (2-phase
    // commit), streaming read — all three on one TableProvider.
    GraftQuery(
      "q100_stream_dsv2_source",
      "readStream over the native DSv2 source, 1-file micro-batches (parquet-side oracle)",
      (spark, dir) => {
        val out = eventsBacklog3(spark, dir)
        // 5 event-type groups: 2 state partitions (EventStreams' sizing
        // policy); complete mode, no watermark → skip the no-data batch
        EventStreams.runToMemory(spark, "q100_stream_dsv2_source",
          StateConf(2, rocksDb = false, noDataBatch = false), OutputMode.Complete()) { ss =>
          ss.readStream
            .format("graft.sources.JsonlSource")
            .schema(eventsFeedSchema)
            .option("maxFilesPerTrigger", "1")
            .load(out)
            .groupBy(col("event_type"))
            // distinct aggregates are (correctly) unsupported on streams —
            // the distinct story is q22/q66's sketches; here min/max/sum
            .agg(count(lit(1)).as("n"),
              sum(col("value_micros")).as("sum_value_micros"),
              min(col("event_id")).as("min_event_id"),
              max(col("event_id")).as("max_event_id"))
        }.orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
          |         AS sum_value_micros,
          |       CAST(min(event_id) AS BIGINT) AS min_event_id,
          |       CAST(max(event_id) AS BIGINT) AS max_event_id
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q102: V2 FunctionCatalog — SQL resolves graft_fn.fn.cents /
    // graft_fn.fn.dot_f through the catalog plugin, and the magic-method
    // binding compiles both call sites to direct Invoke inside
    // whole-stage codegen (FunctionCatalogSpec pins no
    // ApplyFunctionExpression fallback in the plan). Two branches tag a
    // union so ONE oracle hash covers both functions: money coding over
    // orders, and consecutive-pair embedding dots floored at e4 BEFORE
    // summing (per-pair doubles are deterministic — index-ordered double
    // accumulation, list_dot_product's exact twin per the s01
    // precedent — while a double SUM across rows would be
    // order-dependent).
    GraftQuery(
      "q102_function_catalog",
      "catalog-registered SQL functions (magic-method codegen): cents + pairwise dot (oracle)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders.createOrReplaceTempView("q102_orders")
        t.embeddings.createOrReplaceTempView("q102_emb")
        spark.sql(
          """SELECT 'cents' AS fn, o_orderpriority AS grp,
            |       CAST(count(*) AS BIGINT) AS n,
            |       CAST(sum(graft_fn.fn.cents(o_totalprice)) AS BIGINT) AS val
            |FROM q102_orders
            |GROUP BY o_orderpriority
            |UNION ALL
            |SELECT 'dot' AS fn, CAST(e1.label AS STRING) AS grp,
            |       CAST(count(*) AS BIGINT) AS n,
            |       CAST(sum(CAST(floor(
            |         graft_fn.fn.dot_f(e1.embedding, e2.embedding) * 10000)
            |         AS BIGINT)) AS BIGINT) AS val
            |FROM q102_emb e1 JOIN q102_emb e2 ON e2.vec_id = e1.vec_id + 1
            |GROUP BY e1.label
            |ORDER BY fn, grp""".stripMargin)
      },
      Some(
        """SELECT 'cents' AS fn, o_orderpriority AS grp,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS val
          |FROM orders
          |GROUP BY o_orderpriority
          |UNION ALL
          |SELECT 'dot' AS fn, CAST(e1.label AS VARCHAR) AS grp,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(floor(
          |         list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[])
          |         * 10000) AS BIGINT)) AS BIGINT) AS val
          |FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1
          |GROUP BY e1.label
          |ORDER BY fn, grp""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q108: streaming DSv2 SINK into the manifest format — the last seam
    // in the lakehouse loop (q100 streams OUT of the DSv2 source; q44
    // upserts via foreachBatch driver glue; nothing committed manifest
    // versions per-epoch through a StreamingWrite until now). The 3-file
    // backlog is consumed one file per micro-batch (ReadLimit.maxFiles
    // admission), and EVERY epoch publishes one atomic manifest version
    // with footer stats and a txn marker (queryId → epochId), so a
    // replayed epoch after a crash no-ops — exactly-once table state
    // over at-least-once micro-batch delivery (the public Delta
    // SetTransaction design; see graft.sources.ManifestStreamSink).
    // The verified read is the final snapshot: a lost epoch, a
    // double-committed replay, a mis-stated footer, or a broken
    // parquet task write all surface as a hash mismatch against the
    // batch-side oracle. ManifestStreamSinkSpec additionally pins
    // epoch-replay idempotence and restart-with-same-checkpoint
    // no-op directly.
    GraftQuery(
      "q108_stream_manifest_sink",
      "streaming DSv2 sink → manifest format: one atomic version per epoch, exactly-once (oracle)",
      (spark, dir) => {
        import graft.io.ManifestLog
        val backlog = eventsBacklog3(spark, dir)
        val canon = new java.io.File(dir).getCanonicalPath
        // fresh table + checkpoint per invocation (the stream IS the
        // write path under test); `replacing` keeps at most one live
        // pair per dataset across bench iterations — the usual
        // write-path-entry overwrite semantics
        val base = graft.io.TempLayouts.replacing(
          s"q108_base#$canon", "graft_q108_manifest_")(_ => ())
        val ckpt = graft.io.TempLayouts.replacing(
          s"q108_ckpt#$canon", "graft_q108_ckpt_")(_ => ())
        // stateless (no state operator, no exchange): no StateConf
        EventStreams.runStream(spark, "q108_stream_manifest_sink", None,
          Some(ckpt)) { ss =>
          ss.readStream
            .format("graft.sources.JsonlSource")
            .schema(eventsFeedSchema)
            .option("maxFilesPerTrigger", "1")
            .load(backlog)
            .writeStream
            .format("graft.sources.ManifestStreamSink")
            .option("path", base)
            .option("statsCols", "event_id")
            .outputMode("append")
        }
        // one version per 1-file epoch → head is v2; its snapshot must
        // equal the batch answer over the whole backlog
        val v = ManifestLog.latest(base).getOrElse(
          throw new IllegalStateException("stream committed no manifest version"))
        ManifestLog.snapshot(spark, base, v)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value_micros")).as("sum_value_micros"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
          |         AS sum_value_micros,
          |       CAST(min(event_id) AS BIGINT) AS min_event_id,
          |       CAST(max(event_id) AS BIGINT) AS max_event_id
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    )
  )
}
