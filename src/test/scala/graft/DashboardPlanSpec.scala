package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.scalatest.BeforeAndAfterAll

import graft.etl.StarSchema
import graft.queries.Dashboard

/** Plan pin for the dashboard charts over the cached serving table: each
  * chart runs as exactly one Spark job, its final adaptive plan holds no
  * shuffle or broadcast exchange, and only the trend's lag window is
  * unpartitioned. None of this depends on the core count, so the spec is
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

  /** Collects `df` under its own job group; returns the jobs it ran. */
  private def jobsToCollect(df: DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"dashboard-plan-${System.nanoTime}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "dashboard plan pin")
      try df.collect() finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

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
        assert(jobsToCollect(df) === 1, s"$name jobs")
        val p = df.queryExecution.executedPlan
        assert(exchanges(p).isEmpty, s"$name exchanges:\n$p")
        assert(PlanAudit.onePartitionWindows(p) === windows, s"$name unpartitioned windows:\n$p")
      }
    }
  }
}
