package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.etl.StarSchema
import graft.io.CsvDialects
import graft.queries.Dashboard

/** Golden-parity tests against the reference's own data and committed
  * output (SURVEY.md §5.2.1/§5.2.5; golden values from FIXTURES.md §A). */
class StarSchemaParitySpec extends SparkSpecBase with BeforeAndAfterAll {

  lazy val rawDir: String = fixturePath("raw_file")
  /** The cached warehouse, once a test has built it: a run that never
    * needs it neither builds nor releases it. */
  private var built: Option[StarSchema.Warehouse] = None

  lazy val wh: StarSchema.Warehouse = {
    val w = StarSchema.build(spark, rawDir)
    val cached = StarSchema.Warehouse(w.dims, w.fact.cache(), w.wide.cache())
    built = Some(cached)
    cached
  }

  override def afterAll(): Unit =
    try built.foreach { w =>
      w.wide.unpersist(blocking = true)
      w.fact.unpersist(blocking = true)
    } finally super.afterAll()

  test("raw scans parse the reference CSV dialects") {
    val account = CsvDialects.readAccount(
      spark, s"$rawDir/account-statement-1-1-2024-12-31-2024.csv")
    assert(account.count() === 2281)
    assert(account.columns.toSeq ===
      Seq("IDTransaction", "Date", "TransactionType", "Symbol", "Unit"))
    val symbols = CsvDialects.readSymbols(spark, s"$rawDir/symbols.csv")
    assert(symbols.count() === 3194)
    // quoted company names with embedded commas survive
    assert(symbols.filter(col("company_name").contains(",")).count() > 0)
    val country = CsvDialects.readCountry(spark, s"$rawDir/country.csv")
    assert(country.count() === 249)
  }

  test("orphan-symbol anti-join cleanup drops 212 rows (etl.ipynb:17-29)") {
    assert(wh.fact.count() === 2069)
  }

  test("dimension cardinalities and id assignment (etl.ipynb:40-95)") {
    assert(wh.dims.time.count() === 4)
    assert(wh.dims.geography.count() === 42)
    assert(wh.dims.symbol.count() === 3194)
    assert(wh.dims.transactionType.count() === 3)
    // ids by sorted natural key: BUY=1, DIVIDENT=2, SELL=3 (FIXTURES A5)
    val tt = wh.dims.transactionType.orderBy("transaction_type_id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(tt.toSeq === Seq((1, "BUY"), (2, "DIVIDENT"), (3, "SELL")))
    // country normalization reached the geography dim
    assert(wh.dims.geography
      .filter(col("country_name") === "Türkiye").count() === 1)
    assert(wh.dims.geography
      .filter(col("country_name") === "Taiwan, Province of China").count() === 1)
    assert(wh.dims.geography.filter(col("country_name").isin("Taiwan", "Turkey"))
      .count() === 0)
  }

  test("wide table equals the committed golden file as a multiset") {
    val golden = CsvDialects.readMergedGolden(
      spark, fixturePath("transactions_merged.csv"))
    assert(golden.count() === 2069)
    val cols = golden.columns.map(col)
    val a = wh.wide.groupBy(cols: _*).count()
    val b = golden.groupBy(cols: _*).count()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "wide table multiset differs from transactions_merged.csv")
  }

  test("summarize emits the standard stat rows over the wide table (streamlit.py:493-528)") {
    val s = Dashboard.summarize(wh.wide)
    // df.summary() prepends a `summary` column to the input schema
    assert(s.columns.toSeq === "summary" +: wh.wide.columns.toSeq)
    val stats = s.select("summary").collect().map(_.getString(0)).toSeq
    assert(stats === Seq("count", "mean", "stddev", "min", "25%", "50%", "75%", "max"))
    // every column is present with a count of 2069 (all-string schema:
    // count/min/max populated, numeric stats null)
    val counts = s.filter(col("summary") === "count").collect()(0)
    wh.wide.columns.foreach(c => assert(counts.getAs[String](c) === "2069"))
    val mins = s.filter(col("summary") === "min").collect()(0)
    assert(mins.getAs[String]("quarter") === "Q1")
    val maxs = s.filter(col("summary") === "max").collect()(0)
    assert(maxs.getAs[String]("quarter") === "Q4")
  }

  test("metric cards (streamlit.py:101-119)") {
    val r = Dashboard.metricCards(wh.wide).collect()(0)
    assert(r.getAs[Long]("total_transactions") === 2069)
    assert(r.getAs[Long]("buy_count") === 984)
    assert(r.getAs[Long]("sell_count") === 989)
    assert(r.getAs[Long]("dividend_count") === 96)
    assert(r.getAs[Long]("unique_symbols") === 111)
  }

  test("Q1: top-5 sectors for SELL in China returns only 4 groups") {
    val r = Dashboard.topSectorsForSellInCountry(wh.wide, "China")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(r.toSeq === Seq(
      ("Communication Services", 37L), ("Industrials", 32L),
      ("Technology", 26L), ("Consumer Cyclical", 17L)))
  }

  test("Q2: top-5 industries for BUY in Q4") {
    val r = Dashboard.topIndustriesForBuyInQuarter(wh.wide, "Q4")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(r.toSeq === Seq(
      ("Semiconductors", 18L), ("Internet Content & Information", 15L),
      ("Software - Infrastructure", 10L), ("Internet Retail", 8L),
      ("Diagnostics & Research", 7L)))
  }

  test("Q3: quarters ranked by BUY+SELL") {
    val r = Dashboard.quartersByBuySell(wh.wide)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(r.toSeq === Seq(("Q1", 968L), ("Q2", 522L), ("Q3", 242L), ("Q4", 241L)))
  }

  /** (key, transaction_type, cnt) rows, in output order. */
  private def detailRows(df: DataFrame): Seq[(String, String, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  test("top-3 symbols overall (streamlit.py:249-251)") {
    // totals ARM 100, AMD 97, TSM 80
    assert(detailRows(Dashboard.topKWithDetail(wh.wide, "symbol", 3)) === Seq(
      ("ARM", "BUY", 50L), ("ARM", "SELL", 50L),
      ("AMD", "BUY", 49L), ("AMD", "SELL", 48L),
      ("TSM", "BUY", 39L), ("TSM", "DIVIDENT", 3L), ("TSM", "SELL", 38L)))
  }

  test("trend pipeline lag/pct-change (streamlit.py:152-164)") {
    val rows = Dashboard.buySellTrend(wh.wide).collect()
    assert(rows.map(_.getAs[String]("quarter")).toSeq === Seq("Q1", "Q2", "Q3", "Q4"))
    assert(rows.map(_.getAs[Long]("total_count")).toSeq === Seq(999L, 542L, 268L, 260L))
    assert(rows.map(_.getAs[Double]("buy_sell_pct")).toSeq === Seq(96.9, 96.3, 90.3, 92.7))
    val counts = rows.map(_.getAs[Long]("buy_sell_count"))
    assert(counts.toSeq === Seq(968L, 522L, 242L, 241L))
    val pct = rows.map(r =>
      Option(r.getAs[java.lang.Double]("pct_change")).map(_.doubleValue()))
    assert(pct.toSeq === Seq(None, Some(-46.1), Some(-53.6), Some(-0.4)))
  }

  test("trend pct-change is null, not DIVIDE_BY_ZERO, where the lag count is 0") {
    // {DIVIDENT} alone leaves no BUY/SELL rows: every quarter's count is 0
    val f = Dashboard.applyFilters(wh.wide, Some(("Q1", "Q4")), Some(Seq("DIVIDENT")))
    val rows = Dashboard.buySellTrend(f).collect()
    assert(rows.map(_.getAs[Long]("buy_sell_count")).toSeq === Seq(0L, 0L, 0L, 0L))
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("pct_change"))))
  }

  test("top-k with detail restricts to top keys (TK2/J5)") {
    assert(detailRows(Dashboard.topKWithDetail(wh.wide, "sector", 5)) === Seq(
      ("Technology", "BUY", 334L), ("Technology", "DIVIDENT", 18L),
      ("Technology", "SELL", 376L),
      ("Communication Services", "BUY", 120L), ("Communication Services", "DIVIDENT", 34L),
      ("Communication Services", "SELL", 155L),
      ("Healthcare", "BUY", 123L), ("Healthcare", "DIVIDENT", 11L),
      ("Healthcare", "SELL", 126L),
      ("Consumer Cyclical", "BUY", 118L), ("Consumer Cyclical", "DIVIDENT", 3L),
      ("Consumer Cyclical", "SELL", 98L),
      ("Industrials", "BUY", 101L), ("Industrials", "DIVIDENT", 14L),
      ("Industrials", "SELL", 98L)))
  }

  test("quarter-range + type filters compose (streamlit.py:64-96)") {
    val f = Dashboard.applyFilters(wh.wide,
      Some(("Q1", "Q2")), Some(Seq("BUY", "SELL")))
    assert(f.count() === 968 + 522)
    val q3plus = Dashboard.applyFilters(wh.wide, Some(("Q3", "Q4")), None)
    assert(q3plus.count() === 268 + 260)
  }
}
