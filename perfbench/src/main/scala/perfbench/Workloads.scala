package perfbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.StarSchema
import graft.io.{CsvDialects, Writers}
import graft.queries.Dashboard

/** What one timed operation did, judged outside the timed region.
  * `failures` names each call that raised an exception, with its reason;
  * `check` compares the outputs with an independent evaluation. */
final case class Outcome(failures: Seq[(String, String)], check: () => Verdict)

/** The check of one operation. `wrong`: outputs that differ from the
  * independent evaluation, and errors it does not predict. `known`: the
  * entries of [[Outcome.failures]] that are the program's known defect
  * (the zero-lag division in `Dashboard.buySellTrend`), raised exactly
  * where the evaluation predicts it. */
final case class Verdict(wrong: Seq[(String, String)], known: Seq[(String, String)] = Nil)

/** A benchmark workload: an untimed set-up, then operations run one after
  * another (one closed-loop client). `span` wraps each call into a layer
  * of the program; it only records anything in a traced run. */
trait Workload {
  /** Set-ups per run; `setup_s` takes their median. */
  def setupRepeats: Int = 3
  /** Untimed operations after set-up, run by several clients at once and
    * then one more alone, so lazy one-time work is done and the JIT has
    * compiled the planner and code-generator paths before the clock
    * starts. */
  def warmupOps: Int = 8
  /** Build the inputs and the state the operations need. */
  def setup(): Unit
  /** Drop what [[setup]] built, so it can be repeated. */
  def teardown(): Unit = ()
  /** Operation `i`; exceptions of the program are caught and reported. */
  def op(i: Int, span: Spanner): Outcome
  /** What operation `i` is, for the per-operation log. */
  def kind(i: Int): String = "op"
  /** Data files the checked operations have written so far. */
  def filesWritten: Long = 0
}

/** Opens a span around a call into a layer (no-op when untraced). */
trait Spanner { def apply[T](name: String)(body: => T): T }

object Workloads {

  def apply(name: String, spark: SparkSession, seed: Long, repo: Path, run: Path): Workload =
    name match {
      case "session_ref" => new Session(spark, seed, () => refWide(spark, repo))
      case "session_sf01" => new Session(spark, seed, () => sf01Wide(spark, inputs(spark, seed, run)))
      case "etl_build" => new EtlBuild(spark, seed, repo, run)
      case "dedup_sf01" => new Dedup(spark, seed, run)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def rawDir(repo: Path): String =
    repo.resolve("src/test/resources/reference_fixtures/raw_file").toString
  def goldenCsv(repo: Path): String =
    repo.resolve("src/test/resources/reference_fixtures/transactions_merged.csv").toString

  /** The reference serving table: the paper's ETL over the committed CSVs. */
  def refWide(spark: SparkSession, repo: Path): DataFrame =
    StarSchema.build(spark, rawDir(repo)).wide

  /** Seeded sf0.1 tables, written once per run directory. */
  def inputs(spark: SparkSession, seed: Long, run: Path, names: Seq[String] = Gen.Star): String = {
    val dir = run.resolve("sf01")
    if (!Files.isDirectory(dir)) Gen.write(spark, seed, 0.1, dir.toString, names)
    dir.toString
  }

  /** The sf0.1 star join (the catalog's q08 shape) mapped onto the serving
    * table's columns; l_returnflag A/N/R stands in for BUY/SELL/DIVIDENT. */
  def sf01Wide(spark: SparkSession, dir: String): DataFrame = {
    def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(t("part"), col("l_partkey") === col("p_partkey"))
      .select(
        concat(lit("Q"), quarter(col("o_orderdate")).cast("string")).as("quarter"),
        col("n_name").as("country_name"),
        col("p_name").as("symbol"),
        col("p_brand").as("company_name"),
        col("p_type").as("sector"),
        col("p_size").cast("string").as("industry"),
        when(col("l_returnflag") === "A", "BUY")
          .when(col("l_returnflag") === "N", "SELL")
          .otherwise("DIVIDENT").as("transaction_type"))
  }

  private def attempt[T](name: String, failures: collection.mutable.Buffer[(String, String)])(
      body: => T): Option[T] =
    try Some(body)
    catch { case NonFatal(e) => failures += name -> reason(e); None }

  def reason(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")

  private def expect(name: String, got: Option[Array[Row]],
      want: => Seq[Seq[Any]]): Option[(String, String)] =
    got.flatMap { rows =>
      val plain = ChartOracle.plain(rows)
      if (ChartOracle.matches(plain, want)) None
      else Some(name -> s"output differs from oracle: spark=${plain.take(3)} oracle=${want.take(3)}")
    }

  /** One dashboard user over a serving table cached once, as the
    * reference's `st.cache_data` did. */
  final class Session(spark: SparkSession, seed: Long, wide: () => DataFrame) extends Workload {
    private var table: DataFrame = _
    private var oracle: ChartOracle = _
    private var trace: Vector[SessionTrace.Step] = Vector.empty

    def setup(): Unit = {
      table = wide().cache()
      table.count()
      oracle = new ChartOracle(table.collect().toSeq)
      trace = SessionTrace.generate(seed, 4096, oracle.countries)
    }

    override def teardown(): Unit = table.unpersist(blocking = true)

    override def kind(i: Int): String = trace(i % trace.size).kind

    def op(i: Int, span: Spanner): Outcome = {
      val failures = collection.mutable.Buffer.empty[(String, String)]
      def chart(fn: String)(df: => DataFrame): Option[Array[Row]] =
        attempt(fn, failures)(span(s"queries.Dashboard.$fn")(df.collect()))
      val SessionTrace.Step(_, f, country, quarter) = trace(i % trace.size)
      val filtered = span("queries.Dashboard.apply_filters")(
        Dashboard.applyFilters(table, Some(f.range), Some(f.types)))
      val cards = chart("metric_cards")(Dashboard.metricCards(filtered))
      val stacked = chart("stacked_by_quarter")(Dashboard.stackedByQuarter(filtered))
      val trend = chart("buy_sell_trend")(Dashboard.buySellTrend(filtered))
      val company = chart("topk_company")(Dashboard.topKWithDetail(filtered, f.groupCol, 3))
      val sector = chart("topk_sector")(Dashboard.topKWithDetail(filtered, "sector", 5))
      val industry = chart("topk_industry")(Dashboard.topKWithDetail(filtered, "industry", 5))
      val sectors = chart("qa_sectors")(Dashboard.topSectorsForSellInCountry(table, country))
      val industries = chart("qa_industries")(Dashboard.topIndustriesForBuyInQuarter(table, quarter))
      val quarters = chart("qa_quarters")(Dashboard.quartersByBuySell(table))
      Outcome(failures.toSeq, () => {
        val (trendWant, zeroLag) = oracle.buySellTrend(f)
        // the known defect: DIVIDE_BY_ZERO where the reference divides by a zero lag
        val known = failures.filter { case (fn, why) =>
          fn == "buy_sell_trend" && zeroLag && why.contains("DIVIDE_BY_ZERO")
        }
        val wrong = Seq(
          expect("metric_cards", cards, oracle.metricCards(f)),
          expect("stacked_by_quarter", stacked, oracle.stackedByQuarter(f)),
          expect("buy_sell_trend", trend, trendWant),
          // an error the oracle does not predict is a wrong answer too
          failures.find(e => e._1 == "buy_sell_trend" && !known.contains(e))
            .map(e => "buy_sell_trend" -> s"error where the oracle has rows: ${e._2}"),
          expect("topk_company", company, oracle.topKWithDetail(f, f.groupCol, 3)),
          expect("topk_sector", sector, oracle.topKWithDetail(f, "sector", 5)),
          expect("topk_industry", industry, oracle.topKWithDetail(f, "industry", 5)),
          expect("qa_sectors", sectors, oracle.qaSectors(country)),
          expect("qa_industries", industries, oracle.qaIndustries(quarter)),
          expect("qa_quarters", quarters, oracle.qaQuarters)
        ).flatten
        Verdict(wrong, known.toSeq)
      })
    }
  }

  /** The write side: the reference ETL and the sf0.1 star join, each
    * written as the quarter-partitioned serving layout. */
  final class EtlBuild(spark: SparkSession, seed: Long, repo: Path, run: Path) extends Workload {
    private var dir: String = _
    private var golden: DataFrame = _
    private var lineitems = 0L
    private val files = new java.util.concurrent.atomic.AtomicLong()
    override def filesWritten: Long = files.get

    def setup(): Unit = {
      dir = inputs(spark, seed, run)
      golden = CsvDialects.readMergedGolden(spark, goldenCsv(repo)).cache()
      golden.count()
      lineitems = spark.read.parquet(s"$dir/lineitem.parquet").count()
    }

    override def teardown(): Unit = golden.unpersist(blocking = true)

    def op(i: Int, span: Spanner): Outcome = {
      val failures = collection.mutable.Buffer.empty[(String, String)]
      // one directory per operation: warm-up operations run concurrently
      val out = run.resolve("etl_out").resolve(s"op$i")
      val ref = out.resolve("ref").toString
      val sf = out.resolve("sf01").toString
      val raw = rawDir(repo)
      attempt("csv_read", failures)(span("io.CsvDialects") {
        CsvDialects.readAccount(spark, s"$raw/account-statement-1-1-2024-12-31-2024.csv").count() +
          CsvDialects.readSymbols(spark, s"$raw/symbols.csv").count() +
          CsvDialects.readCountry(spark, s"$raw/country.csv").count()
      })
      val refOk = attempt("ref_build", failures)(span("etl.StarSchema.ref_build") {
        Writers.wideTablePartitioned(StarSchema.build(spark, raw).wide, ref)
      })
      val sfOk = attempt("sf01_build", failures)(span("etl.StarSchema.sf01_build") {
        Writers.wideTablePartitioned(sf01Wide(spark, dir), sf)
      })
      Outcome(failures.toSeq, () => {
        val bad = collection.mutable.Buffer.empty[(String, String)]
        refOk.foreach { _ =>
          val got = spark.read.parquet(ref).select(ChartOracle.Columns.map(col): _*)
          val extra = got.exceptAll(golden).count()
          val missing = golden.exceptAll(got).count()
          if (extra + missing > 0)
            bad += "ref_build" -> s"wide table differs from golden: +$extra -$missing rows"
        }
        sfOk.foreach { _ =>
          val n = spark.read.parquet(sf).count()
          if (n != lineitems) bad += "sf01_build" -> s"$n rows written, $lineitems lineitems"
        }
        files.addAndGet(Files.walk(out).filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_")).count())
        graft.io.TempLayouts.delete(out.toString)
        Verdict(bad.toSeq)
      })
    }
  }

  /** Passes over the catalog's dedup entries d01–d17, each run to a noop
    * sink. The one set-up pass is the cold pass; it writes parquet instead,
    * for the oracle check. */
  final class Dedup(spark: SparkSession, seed: Long, run: Path) extends Workload {
    override def setupRepeats: Int = 1
    override def warmupOps: Int = 0
    val entries: Seq[String] =
      SparkEntry.benchQueries.keys.filter(_.matches("d(0[1-9]|1[0-7])_.*")).toSeq.sorted
    private var dir: String = _

    def setup(): Unit = {
      dir = inputs(spark, seed, run, Gen.All)
      val out = run.resolve("dedup_out")
      val sql = entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _))
      Files.write(run.resolve("oracle_sql.json"),
        Json.obj(sql.map { case (e, q) => e -> Json.str(q) }).getBytes("UTF-8"))
      entries.foreach { e =>
        SparkEntry.benchQueries(e)(spark, dir).write.mode("overwrite")
          .parquet(out.resolve(e).toString)
      }
    }

    def op(i: Int, span: Spanner): Outcome = {
      val failures = collection.mutable.Buffer.empty[(String, String)]
      entries.foreach { e =>
        attempt(e, failures)(span(s"dedup.$e") {
          SparkEntry.benchQueries(e)(spark, dir).write.format("noop").mode("overwrite").save()
        })
      }
      Outcome(failures.toSeq, () => Verdict(Nil))
    }
  }
}
