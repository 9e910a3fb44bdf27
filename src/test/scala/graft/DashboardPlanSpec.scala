package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.graftbridge.BoundParam
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.scalatest.BeforeAndAfterAll

import graft.etl.StarSchema
import graft.queries.Dashboard

/** Plan pin for the dashboard charts over the cached serving table: each
  * chart runs as exactly one Spark job, its final adaptive plan holds no
  * shuffle or broadcast exchange, and only the trend's lag window is
  * unpartitioned; the main-page filters are one `Filter` over the table. None of this depends on the core count, so the spec is
  * meant to pass at any `SPARK_GRAFT_CPUS`. */
class DashboardPlanSpec extends SparkSpecBase with AdaptiveSparkPlanHelper
    with BeforeAndAfterAll {

  /** The cached table, once a test has built it: a run that never needs
    * it neither builds nor releases it. */
  private var built: Option[DataFrame] = None

  lazy val wide: DataFrame = {
    val w = StarSchema.build(spark, fixturePath("raw_file")).wide.cache()
    w.count()
    built = Some(w)
    w
  }

  override def afterAll(): Unit =
    try built.foreach(_.unpersist(blocking = true)) finally super.afterAll()

  /** (chart, plan, unpartitioned windows) — the nine charts of one
    * dashboard interaction. */
  private val charts: Seq[(String, DataFrame => DataFrame, Int)] = Seq(
    ("metricCards", Dashboard.metricCards, 0),
    ("stackedByQuarter", Dashboard.stackedByQuarter, 0),
    ("buySellTrend", Dashboard.buySellTrend, 1),
    ("topKWithDetail company_name", Dashboard.topKWithDetail(_, "company_name", 3), 0),
    ("topKWithDetail sector", Dashboard.topKWithDetail(_, "sector", 5), 0),
    ("topKWithDetail industry", Dashboard.topKWithDetail(_, "industry", 5), 0),
    ("topSectorsForSellInCountry", Dashboard.topSectorsForSellInCountry(_, "China"), 0),
    ("topIndustriesForBuyInQuarter", Dashboard.topIndustriesForBuyInQuarter(_, "Q4"), 0),
    ("quartersByBuySell", Dashboard.quartersByBuySell, 0))

  private def exchanges(p: SparkPlan): Seq[String] =
    collect(p) {
      case e: Exchange => e.nodeName
      case r: ReusedExchangeExec => r.nodeName
    }

  for ((input, filtered) <- Seq("unfiltered" -> false, "filtered" -> true)) {
    test(s"each chart is one job with no exchange ($input)") {
      val in =
        if (filtered) Dashboard.applyFilters(wide, Some(("Q2", "Q4")), Some(Seq("BUY", "SELL")))
        else wide
      for ((name, chart, windows) <- charts) {
        val df = chart(in)
        assert(withJobCount(df.collect())._2 === 1, s"$name jobs")
        val p = df.queryExecution.executedPlan
        assert(exchanges(p).isEmpty, s"$name exchanges:\n$p")
        assert(PlanAudit.onePartitionWindows(p) === windows, s"$name unpartitioned windows:\n$p")
      }
    }
  }

  test("applyFilters puts its conditions into one Filter over the table's plan") {
    val plan = wide.queryExecution.analyzed
    /** The parameter types of the one `Filter` that `f` adds to `wide`. */
    def filterParams(f: DataFrame): Seq[DataType] = f.queryExecution.analyzed match {
      case Filter(cond, child) if child eq plan => cond.collect { case b: BoundParam => b.dataType }
      case other => fail(s"not one Filter over the table's plan:\n$other")
    }
    val range = Some(("Q2", "Q3"))
    val types = Some(Seq("BUY", "SELL"))
    assert(filterParams(Dashboard.applyFilters(wide, range, types)) ===
      Seq(StringType, StringType, ArrayType(StringType)))
    assert(filterParams(Dashboard.applyFilters(wide, range, None)) === Seq(StringType, StringType))
    assert(filterParams(Dashboard.applyFilters(wide, None, types)) === Seq(ArrayType(StringType)))
    assert(Dashboard.applyFilters(wide, None, None) eq wide)
  }
}
