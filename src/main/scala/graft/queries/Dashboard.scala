package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference dashboard's query pipelines (ref streamlit.py) over the
  * wide serving table (`quarter, country_name, symbol, company_name,
  * sector, industry, transaction_type`) — each interactive chart is one
  * declarative Spark plan instead of an eager pandas chain.
  *
  * The dashboard quirks preserved (SURVEY.md §2.11):
  *  - dividend metric counts BOTH spellings via substring 'DIVID'
  *    (streamlit.py:114 — the raw data ships 'DIVIDENT').
  *  - quarter-range + type filters compose on the main page
  *    (streamlit.py:75, 95–96); the Query Analysis page ignores them.
  *  - top-k truncates, never pads (China SELL has only 4 sectors).
  *  - every top-k gets the deterministic tie-break (count desc, key asc)
  *    that pandas got implicitly from stable sort over input order.
  */
object Dashboard {

  private def cnt: Column = count(lit(1))

  /** Quarter ordinal for correct Q1<Q2<Q3<Q4 ordering (ref
    * sort_quarters helper, streamlit.py:27–30; kept as a sort key
    * expression, not a storage type). */
  def quarterOrd(q: Column): Column = substring(q, 2, 1).cast("int")

  /** F2+F6 — streamlit.py:44–49, 62–75: contiguous quarter range +
    * type-membership filters. */
  def applyFilters(
      wide: DataFrame,
      quarterRange: Option[(String, String)],
      types: Option[Seq[String]]): DataFrame = {
    val q = quarterRange.fold(wide) { case (lo, hi) =>
      wide.filter(quarterOrd(col("quarter"))
        .between(quarterOrd(lit(lo)), quarterOrd(lit(hi))))
    }
    types.fold(q)(ts => q.filter(col("transaction_type").isin(ts: _*)))
  }

  /** A4+A5+F1+F5 — streamlit.py:101–119: the five metric cards in one
    * single-pass aggregate. */
  def metricCards(wide: DataFrame): DataFrame =
    wide.agg(
      cnt.as("total_transactions"),
      count(when(col("transaction_type") === "BUY", 1)).as("buy_count"),
      count(when(col("transaction_type") === "SELL", 1)).as("sell_count"),
      count(when(col("transaction_type").contains("DIVID"), 1)).as("dividend_count"),
      countDistinct(col("symbol")).as("unique_symbols"))

  /** A2+S3 — streamlit.py:125–126: stacked transactions by quarter. */
  def stackedByQuarter(wide: DataFrame): DataFrame =
    wide.groupBy(col("quarter"), col("transaction_type"))
      .agg(cnt.as("cnt"))
      .orderBy(quarterOrd(col("quarter")), col("transaction_type"))

  /** A1+J2+F8+W1+W2+W3 — streamlit.py:152–164: BUY+SELL share of all
    * transactions per quarter, with lag-based pct change (null where the
    * previous quarter's count is 0 — pandas' NaN/inf there; ANSI mode
    * would throw DIVIDE_BY_ZERO). */
  def buySellTrend(wide: DataFrame): DataFrame = {
    val total = wide.groupBy(col("quarter")).agg(cnt.as("total_count"))
    val buySell = wide
      .filter(col("transaction_type").isin("BUY", "SELL"))
      .groupBy(col("quarter")).agg(cnt.as("buy_sell_count"))
    val w = Window.orderBy(quarterOrd(col("quarter")))
    total.join(buySell, Seq("quarter"), "left")
      .na.fill(0, Seq("buy_sell_count"))
      .withColumn("buy_sell_pct",
        round(col("buy_sell_count") / col("total_count") * 100, 1))
      .withColumn("pct_change",
        round((col("buy_sell_count") - lag(col("buy_sell_count"), 1).over(w))
          / nullif(lag(col("buy_sell_count"), 1).over(w), lit(0L)) * 100, 1))
      .orderBy(quarterOrd(col("quarter")))
  }

  /** S4+TK2+J5+A2+A3 — streamlit.py:249–261 (top-3 companies; the
    * groupCol is the runtime "Symbol vs Company Name" toggle,
    * streamlit.py:240–247), 287–299 (top-5 sectors), 331–343 (top-5
    * industries). Top-k keys then per-(key, type) detail via broadcast
    * semi-join, re-ordered by group total. */
  def topKWithDetail(wide: DataFrame, groupCol: String, k: Int): DataFrame = {
    val totals = wide.groupBy(col(groupCol)).agg(cnt.as("total"))
      .orderBy(col("total").desc, col(groupCol).asc)
      .limit(k)
    wide
      .join(broadcast(totals), Seq(groupCol), "left_semi")
      .groupBy(col(groupCol), col("transaction_type"))
      .agg(cnt.as("cnt"))
      .join(broadcast(totals), Seq(groupCol))
      .orderBy(col("total").desc, col(groupCol).asc, col("transaction_type").asc)
      .select(col(groupCol), col("transaction_type"), col("cnt"))
  }

  /** Q1 — streamlit.py:378–385: top-5 sectors for SELL in a country
    * (full table — Query Analysis ignores dashboard filters). */
  def topSectorsForSellInCountry(wide: DataFrame, country: String, k: Int = 5): DataFrame =
    wide.filter(col("transaction_type") === "SELL" && col("country_name") === country)
      .groupBy(col("sector")).agg(cnt.as("cnt"))
      .orderBy(col("cnt").desc, col("sector").asc)
      .limit(k)

  /** Q2 — streamlit.py:408–416: top-5 industries for BUY in a quarter. */
  def topIndustriesForBuyInQuarter(wide: DataFrame, quarter: String, k: Int = 5): DataFrame =
    wide.filter(col("transaction_type") === "BUY" && col("quarter") === quarter)
      .groupBy(col("industry")).agg(cnt.as("cnt"))
      .orderBy(col("cnt").desc, col("industry").asc)
      .limit(k)

  /** Q3 — streamlit.py:439–445: quarters ranked by BUY+SELL volume. */
  def quartersByBuySell(wide: DataFrame): DataFrame =
    wide.filter(col("transaction_type").isin("BUY", "SELL"))
      .groupBy(col("quarter")).agg(cnt.as("cnt"))
      .orderBy(col("cnt").desc, col("quarter").asc)

  /** The AI-page's engine-relevant primitive (streamlit.py:493–528 sends
    * a table summary to LIDA): schema + per-column stats. */
  def summarize(wide: DataFrame): DataFrame = wide.summary()
}
