package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.etl.StarSchema
import graft.queries.Dashboard

/** The chart formulations `Dashboard` used before each chart became one
  * aggregate over one partition, kept verbatim as the reference the
  * current ones are compared with: two aggregates and a left join for the
  * trend; top-k keys, a broadcast semi-join and a broadcast join back for
  * the top-k detail. */
object DashboardReference {

  private def cnt: Column = count(lit(1))

  def buySellTrend(wide: DataFrame): DataFrame = {
    val total = wide.groupBy(col("quarter")).agg(cnt.as("total_count"))
    val buySell = wide
      .filter(col("transaction_type").isin("BUY", "SELL"))
      .groupBy(col("quarter")).agg(cnt.as("buy_sell_count"))
    val w = Window.orderBy(Dashboard.quarterOrd(col("quarter")))
    total.join(buySell, Seq("quarter"), "left")
      .na.fill(0, Seq("buy_sell_count"))
      .withColumn("buy_sell_pct",
        round(col("buy_sell_count") / col("total_count") * 100, 1))
      .withColumn("pct_change",
        round((col("buy_sell_count") - lag(col("buy_sell_count"), 1).over(w))
          / nullif(lag(col("buy_sell_count"), 1).over(w), lit(0L)) * 100, 1))
      .orderBy(Dashboard.quarterOrd(col("quarter")))
  }

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
}

/** Differential test: the trend and top-k charts return the same rows, in
  * the same order, with the same schema (names, types, nullability) as
  * [[DashboardReference]], over the reference data under every quarter
  * range and type filter, and over a hand-built frame with tied totals, a
  * null group key and a quarter without BUY/SELL rows. */
class DashboardDifferentialSpec extends SparkSpecBase with BeforeAndAfterAll {

  /** The cached table, once a test has built it: a run that never needs
    * it neither builds nor releases it. */
  private var built: Option[DataFrame] = None

  lazy val wide: DataFrame = {
    val w = StarSchema.build(spark, fixturePath("raw_file")).wide.cache()
    w.count()
    built = Some(w)
    w
  }

  /** The reference trend is planned afresh for each of the 70 filter
    * settings, and each plan logs the unpartitioned-window warning for
    * its ≤4-row lag window: this spec logs that logger's errors only. */
  private val windowLogger = "org.apache.spark.sql.execution.window.WindowExec"
  private var windowLevel: Level = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    windowLevel = LogManager.getLogger(windowLogger).getLevel
    Configurator.setLevel(windowLogger, Level.ERROR)
  }

  override def afterAll(): Unit =
    try {
      Configurator.setLevel(windowLogger, windowLevel)
      built.foreach(_.unpersist(blocking = true))
    } finally super.afterAll()

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema === want.schema, clue)
    assert(got.collect().toSeq === want.collect().toSeq, clue)
  }

  private val quarters = Seq("Q1", "Q2", "Q3", "Q4")
  private val ranges = for {
    (lo, i) <- quarters.zipWithIndex
    hi <- quarters.drop(i)
  } yield (lo, hi)
  private val typeSets = Seq("BUY", "SELL", "DIVIDENT").toSet.subsets().filter(_.nonEmpty)
    .map(_.toSeq.sorted).toSeq

  test("trend matches the reference over 10 quarter ranges x 7 type subsets") {
    assert(ranges.size === 10 && typeSets.size === 7)
    // the second pass repeats every call of the first, so each is
    // answered from the rows its template kept, without a job
    for (pass <- 1 to 2; r <- ranges; ts <- typeSets) {
      val f = Dashboard.applyFilters(wide, Some(r), Some(ts))
      val trend = Dashboard.buySellTrend(f)
      if (pass == 2) assert(withJobCount(trend.collect())._2 === 0, s"$r $ts")
      assertSame(trend, DashboardReference.buySellTrend(f), s"pass $pass: $r $ts")
    }
  }

  test("top-k with detail matches the reference over 4 keys x k in {3, 5} x 4 filters") {
    val filters = Seq(
      (None, None),
      (Some(("Q1", "Q2")), Some(Seq("BUY", "SELL"))),
      (Some(("Q3", "Q4")), None),
      (Some(("Q2", "Q2")), Some(Seq("DIVIDENT"))))
    for ((r, ts) <- filters; key <- Seq("symbol", "company_name", "sector", "industry");
         k <- Seq(3, 5)) {
      val f = Dashboard.applyFilters(wide, r, ts)
      assertSame(Dashboard.topKWithDetail(f, key, k),
        DashboardReference.topKWithDetail(f, key, k), s"$r $ts $key k=$k")
    }
  }

  test("tied totals, a null key and a quarter without BUY/SELL rows") {
    import testImplicits._
    val cols = Seq("quarter", "country_name", "symbol", "company_name", "sector",
      "industry", "transaction_type")
    def row(q: String, sector: String, t: String) = (q, "X", "S", "C", sector, "I", t)
    // sector totals: null 3, A 2, B 2, C 2, D 1 (Q3 holds DIVIDENT only)
    val tiny = Seq(
      row("Q1", null, "BUY"), row("Q1", null, "SELL"), row("Q2", null, "BUY"),
      row("Q1", "B", "BUY"), row("Q2", "B", "SELL"),
      row("Q2", "A", "SELL"), row("Q2", "A", "SELL"),
      row("Q3", "C", "DIVIDENT"), row("Q3", "C", "DIVIDENT"),
      row("Q4", "D", "BUY")).toDF(cols: _*)

    val trend = Dashboard.buySellTrend(tiny)
    assertSame(trend, DashboardReference.buySellTrend(tiny), "trend")
    assert(trend.select("quarter", "total_count", "buy_sell_count").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("Q1", 3L, 3L), ("Q2", 4L, 4L), ("Q3", 2L, 0L), ("Q4", 1L, 1L)))

    for (k <- 1 to 5) {
      assertSame(Dashboard.topKWithDetail(tiny, "sector", k),
        DashboardReference.topKWithDetail(tiny, "sector", k), s"k=$k")
    }
    // the null key takes the first slot and has no detail rows; the tie
    // at total 2 breaks by key
    val top3 = Dashboard.topKWithDetail(tiny, "sector", 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(top3 === Seq(("A", "SELL", 2L), ("B", "BUY", 1L), ("B", "SELL", 1L)))
  }
}
