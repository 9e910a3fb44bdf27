package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The oracle against the golden answers of the reference data
  * (FIXTURES.md, A5), read from the committed golden wide table. */
class ChartOracleSpec extends AnyFunSuite {
  import SessionTrace.Filters

  /** One CSV line; fields may be double-quoted and contain commas. */
  private def fields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    line.foreach {
      case '"' => quoted = !quoted
      case ',' if !quoted => out += cur.result(); cur.clear()
      case c => cur += c
    }
    (out += cur.result()).result()
  }

  private lazy val oracle = {
    val src = scala.io.Source.fromFile(
      "../src/test/resources/reference_fixtures/transactions_merged.csv", "UTF-8")
    try new ChartOracle(src.getLines().drop(1).map(l => Row.fromSeq(fields(l))).toSeq)
    finally src.close()
  }

  private val everything = Filters(0, 3, SessionTrace.Types, bySymbol = true)

  test("metric cards, unfiltered") {
    assert(oracle.metricCards(everything) == Seq(Seq(2069L, 984L, 989L, 96L, 111L)))
  }

  test("Query Analysis answers") {
    assert(oracle.qaSectors("China") == Seq(Seq("Communication Services", 37L),
      Seq("Industrials", 32L), Seq("Technology", 26L), Seq("Consumer Cyclical", 17L)))
    assert(oracle.qaIndustries("Q4") == Seq(Seq("Semiconductors", 18L),
      Seq("Internet Content & Information", 15L), Seq("Software - Infrastructure", 10L),
      Seq("Internet Retail", 8L), Seq("Diagnostics & Research", 7L)))
    assert(oracle.qaQuarters ==
      Seq(Seq("Q1", 968L), Seq("Q2", 522L), Seq("Q3", 242L), Seq("Q4", 241L)))
  }

  test("top symbols with per-type detail, ordered by total") {
    val rows = oracle.topKWithDetail(everything, "symbol", 3)
    assert(rows.map(_.head).distinct == Seq("ARM", "AMD", "TSM"))
    assert(rows.filter(_.head == "ARM").map(_(2).asInstanceOf[Long]).sum == 100L)
  }

  test("BUY+SELL trend, and the zero lag for dividends alone") {
    val (trend, zeroLag) = oracle.buySellTrend(everything.copy(types = Seq("BUY", "SELL")))
    assert(trend.map(_(4)) == Seq(null, -46.1, -53.6, -0.4))
    assert(!zeroLag)
    val (divs, divZeroLag) = oracle.buySellTrend(everything.copy(types = Seq("DIVIDENT")))
    assert(divZeroLag)
    assert(divs.map(_(4)) == Seq(null) ++ Seq.fill(divs.size - 1)(ChartOracle.NotFinite))
    assert(!oracle.buySellTrend(everything.copy(lo = 2, hi = 2, types = Seq("DIVIDENT")))._2)
  }

  test("a null, NaN or infinity matches where the reference is not finite") {
    val want = Seq(Seq("Q1", null), Seq("Q2", ChartOracle.NotFinite))
    assert(ChartOracle.matches(Seq(Seq("Q1", null), Seq("Q2", null)), want))
    assert(ChartOracle.matches(Seq(Seq("Q1", null), Seq("Q2", Double.NaN)), want))
    assert(ChartOracle.matches(Seq(Seq("Q1", null), Seq("Q2", Double.PositiveInfinity)), want))
    assert(!ChartOracle.matches(Seq(Seq("Q1", null), Seq("Q2", 0.0)), want))
    assert(!ChartOracle.matches(Seq(Seq("Q1", null)), want))
  }
}
