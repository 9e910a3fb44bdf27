package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CodegenMode, CostMode, ExplainMode, ExtendedMode,
  FormattedMode, QueryExecution, SimpleMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, current_timestamp, lit, rand}
import org.scalatest.BeforeAndAfterAll

import graft.etl.StarSchema
import graft.queries.Dashboard

/** The prepared-plan path of [[Dashboard]]: over a cached table each
  * chart is planned once and later interactions only bind new filter
  * values, so they compile no code, run no adaptive re-planning and run
  * their job over the RDD the template built, and a call that repeats
  * earlier values runs no job; a template and the rows it keeps never
  * outlive its cache entry, never mix up concurrent callers or calls
  * bound before others, and inputs that read no cache take the ordinary
  * path. A call's description, which every `collect` posts, is the one
  * a fresh rendering of its plan gives, whether the template kept it or
  * not. */
class DashboardPreparedSpec extends SparkSpecBase with BeforeAndAfterAll {

  /** The trend's lag window has no partitioning (one-partition policy),
    * and each trend plan logs a warning for it: this spec logs that
    * logger's errors only. */
  private val windowLogger = "org.apache.spark.sql.execution.window.WindowExec"
  private var windowLevel: Level = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    windowLevel = LogManager.getLogger(windowLogger).getLevel
    Configurator.setLevel(windowLogger, Level.ERROR)
  }

  override def afterAll(): Unit =
    try Configurator.setLevel(windowLogger, windowLevel) finally super.afterAll()

  /** The main-page filters and the Query Analysis selections of one
    * dashboard state. */
  private final case class State(range: (String, String), types: Seq[String],
      country: String, quarter: String)

  /** The nine charts of one interaction over `wide`, as the dashboard
    * re-runs them. */
  private def charts(wide: DataFrame, s: State): Seq[DataFrame] = {
    val f = Dashboard.applyFilters(wide, Some(s.range), Some(s.types))
    Seq(
      Dashboard.metricCards(f),
      Dashboard.stackedByQuarter(f),
      Dashboard.buySellTrend(f),
      Dashboard.topKWithDetail(f, "company_name", 3),
      Dashboard.topKWithDetail(f, "sector", 5),
      Dashboard.topKWithDetail(f, "industry", 5),
      Dashboard.topSectorsForSellInCountry(wide, s.country),
      Dashboard.topIndustriesForBuyInQuarter(wide, s.quarter),
      Dashboard.quartersByBuySell(wide))
  }

  private def rows(wide: DataFrame, s: State): Seq[Seq[Row]] =
    charts(wide, s).map(_.collect().toSeq)

  private val states = Seq(
    State(("Q1", "Q3"), Seq("BUY", "SELL"), "China", "Q2"),
    State(("Q2", "Q4"), Seq("SELL"), "Brazil", "Q4"),
    State(("Q1", "Q1"), Seq("BUY", "DIVIDENT"), "Ireland", "Q1"),
    State(("Q3", "Q4"), Seq("BUY", "SELL"), "United States of America", "Q3"))

  /** The reference serving table, not cached. Its plan is the one other
    * suites cache (the `CacheManager` matches canonicalized plans, so its
    * fresh attribute ids do not tell them apart): those suites release
    * their entries when they end, and [[cached]] checks it makes its own. */
  private def reference(): DataFrame = StarSchema.build(spark, fixturePath("raw_file")).wide

  /** The same rows with no cache behind them: the ordinary path. */
  private def uncached(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** `df` cached as a new entry: no entry an earlier test or suite left
    * serves it. */
  private def cached(df: DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val c = df.cache()
    c.count()
    assert((sc.getPersistentRDDs.keySet -- before).size === 1, "a cache entry already served it")
    c
  }

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  test("a second interaction with new values and another type-set size compiles no code " +
      "and re-plans nothing") {
    val wide = cached(reference())
    try {
      rows(wide, states(0))
      val aqeUpdates = new AtomicInteger()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates.incrementAndGet()
          case _ =>
        }
      }
      val sc = spark.sparkContext
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val second = charts(wide, states(1))
        second.foreach(_.collect())
        ListenerBusDrain(sc)
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0)
        assert(aqeUpdates.get === 0)
        assert(second.forall(!adaptive(_)), "every chart runs its prepared plan")
      } finally sc.removeSparkListener(listener)
    } finally wide.unpersist(blocking = true)
  }

  /** The ids of the RDDs in each stage that `df.collect()` runs. */
  private def stageRdds(df: DataFrame): Seq[Set[Int]] = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.rddInfos.map(_.id).toSet)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      df.collect()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq
  }

  test("warm calls of a chart run over the RDDs its template built: one new RDD per call") {
    val wide = cached(reference())
    try {
      rows(wide, states(0))
      // the first eight charts take values that differ between the two
      // states; `quartersByBuySell` takes none, so its calls repeat the
      // first and are answered from the rows it kept
      val (bound, repeated) = charts(wide, states(1)).zip(charts(wide, states(2))).splitAt(8)
      for ((a, b) <- bound) {
        val Seq(first) = stageRdds(a)
        val Seq(second) = stageRdds(b)
        assert((first intersect second).nonEmpty, s"shared RDDs\n${a.queryExecution.executedPlan}")
        assert((first diff second).size === 1 && (second diff first).size === 1,
          s"$first vs $second\n${a.queryExecution.executedPlan}")
      }
      for ((a, b) <- repeated) assert(stageRdds(a).isEmpty && stageRdds(b).isEmpty)
    } finally wide.unpersist(blocking = true)
  }

  test("a repeated interaction runs no job and returns the rows of its first run") {
    val base = reference()
    val want = rows(uncached(base), states(0))
    val wide = cached(base)
    try {
      val (first, ran) = withJobCount(rows(wide, states(0)))
      assert(first === want)
      assert(ran === 9)
      val (again, reran) = withJobCount(rows(wide, states(0)))
      assert(again === want)
      assert(reran === 0)
    } finally wide.unpersist(blocking = true)
  }

  test("charts bound at two states and run in reverse order each return their own rows, " +
      "through collect, .rdd and toLocalIterator") {
    val base = reference()
    val two = states.take(2)
    val want = two.map(rows(uncached(base), _))
    val wide = cached(base)
    try {
      rows(wide, states(2)) // the templates exist before the charts below are bound
      for ((bound, w) <- two.map(charts(wide, _)).zip(want).reverse) {
        assert(bound.map(_.collect().toSeq) === w)
        assert(bound.map(_.rdd.collect().toSeq) === w)
        assert(bound.map(_.toLocalIterator().asScala.toSeq) === w)
      }
    } finally wide.unpersist(blocking = true)
  }

  test("two bound charts computed in one task fail the job instead of mixing their values") {
    val base = reference()
    val countries = states.take(2).map(_.country)
    val want = countries.map(Dashboard.topSectorsForSellInCountry(uncached(base), _).collect().toSeq)
    assert(want.distinct.size === 2)
    val wide = cached(base)
    try {
      val Seq(a, b) = countries.map(Dashboard.topSectorsForSellInCountry(wide, _))
      // the physical plans' RDDs: each task of the zip computes both charts
      val e = intercept[SparkException] {
        a.queryExecution.toRdd.zipPartitions(b.queryExecution.toRdd)((x, y) => x ++ y).count()
      }
      assert(e.getMessage.contains("cannot compute two prepared charts"))
      // `.rdd` plans a bound chart afresh over the call's own values: a
      // task computing it next to a prepared chart's job reads none of
      // that job's values, whether it is the call that prepared the
      // template (`a`) or a later one (`b`)
      for ((job, fresh, w) <- Seq((a, b, want(1)), (b, a, want(0)))) {
        val got = job.queryExecution.toRdd.zipPartitions(fresh.rdd)((_, rows) => rows).collect()
        assert(got.toSeq === w)
      }
    } finally wide.unpersist(blocking = true)
  }

  test("a table re-cached with other rows gets its own plans, and charts match the ordinary path") {
    val base = reference()
    // the same columns (attribute ids) as `base`, so only the cache
    // entry tells the two tables' plans apart
    val other = base.filter(col("country_name") =!= "China" && col("quarter") =!= "Q3")
    val want = states.map(rows(uncached(other), _))
    val first = cached(base)
    try {
      assert(rows(first, states(0)) === rows(uncached(base), states(0)))
      assert(withJobCount(rows(first, states(0)))._2 === 0, "the first table keeps its rows")
    } finally first.unpersist(blocking = true)
    // no chart call between the two caches: nothing drops the first
    // table's plans before the second table's charts look them up
    val second = cached(other)
    try {
      // a state the first table answered: the second table's templates
      // hold no rows yet, so each chart runs its job over the new entry
      val (again, ran) = withJobCount(rows(second, states(0)))
      assert(again === want.head)
      assert(ran === 9)
      assert(states.map(rows(second, _)) === want)
    } finally second.unpersist(blocking = true)
  }

  test("after unpersist a chart call does not bring the old cache back") {
    val sc = spark.sparkContext
    // another cached table, so the session's cache is not empty after
    // the unpersist below
    val other = cached(spark.range(10).toDF("n"))
    val before = sc.getPersistentRDDs.keySet
    val wide = cached(reference())
    try {
      val filtered = Dashboard.applyFilters(wide, Some(("Q2", "Q3")), Some(Seq("BUY")))
      val want = rows(wide, states(2))
      // the same state again, bound while the table is cached: its
      // templates hold these values' rows
      val bound = charts(wide, states(2))
      Dashboard.buySellTrend(filtered).collect()
      assert(sc.getPersistentRDDs.keySet.size === before.size + 1)
      wide.unpersist(blocking = true)
      assert(sc.getPersistentRDDs.keySet === before)
      // first the frame filtered while the table was cached, whose trend
      // template is still held
      Dashboard.buySellTrend(filtered).collect()
      Dashboard.metricCards(filtered).collect()
      // the repeated state, bound before the unpersist and called after it:
      // every chart reads the source, none answers from the kept rows
      for ((df, w) <- (bound ++ charts(wide, states(2))).zip(want ++ want)) {
        val (got, ran) = withJobCount(df.collect().toSeq)
        assert(got === w)
        assert(ran > 0, s"kept rows answered\n${df.queryExecution.executedPlan}")
      }
      assert(sc.getPersistentRDDs.keySet === before, "a stale template rebuilt the cache")
    } finally {
      wide.unpersist(blocking = true)
      other.unpersist(blocking = true)
    }
  }

  test("a chart bound while its table is cached and run after unpersist reads the source") {
    val sc = spark.sparkContext
    val other = cached(spark.range(10).toDF("n"))
    val before = sc.getPersistentRDDs.keySet
    val base = reference()
    val want = rows(uncached(base), states(1))
    val wide = cached(base)
    rows(wide, states(0)) // the templates exist before the charts below are bound
    val bound = charts(wide, states(1))
    wide.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.keySet === before)
    assert(bound.map(_.collect().toSeq) === want)
    assert(sc.getPersistentRDDs.keySet === before, "a prepared scan rebuilt the cache")
    other.unpersist(blocking = true)
  }

  test("a null selection binds as null into a prepared chart: no rows, as with a literal") {
    val base = reference()
    val wide = cached(base)
    try {
      val china = Dashboard.topSectorsForSellInCountry(wide, "China").collect().toSeq
      assert(china.nonEmpty)
      // twice each: the repeated null call is answered from kept rows
      for (_ <- 1 to 2) {
        assert(Dashboard.topSectorsForSellInCountry(wide, null).collect().isEmpty)
        assert(Dashboard.topIndustriesForBuyInQuarter(wide, null).collect().isEmpty)
      }
      assert(withJobCount(Dashboard.topSectorsForSellInCountry(wide, null).collect())._2 === 0)
      assert(Dashboard.topSectorsForSellInCountry(wide, "China").collect().toSeq === china)
      def total(range: (String, String), types: Seq[String]): Long =
        Dashboard.metricCards(Dashboard.applyFilters(wide, Some(range), Some(types)))
          .collect().head.getLong(0)
      val buys = total(("Q1", "Q4"), Seq("BUY"))
      assert(buys > 0)
      for (_ <- 1 to 2) {
        assert(total((null, "Q4"), Seq("BUY")) === 0L)
        assert(total(("Q1", "Q4"), Seq("BUY", null)) === buys)
      }
    } finally wide.unpersist(blocking = true)
  }

  test("4 threads running different interactions at once each get their own rows") {
    val base = reference()
    val want = states.map(rows(uncached(base), _))
    val wide = cached(base)
    val pool = Executors.newFixedThreadPool(states.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    /** The charts of `s`, each described, then collected. */
    def interaction(s: State): (Seq[DataFrame], Seq[String], Seq[Seq[Row]]) = {
      val cs = charts(wide, s)
      val described = cs.map(_.queryExecution.explainString(FormattedMode))
      (cs, described, cs.map(_.collect().toSeq))
    }
    try {
      for (round <- 1 to 3) {
        val got = Await.result(
          Future.sequence(states.map(s => Future(withJobCount(interaction(s))))), 5.minutes)
        got.zip(want).zip(states).foreach { case ((((cs, described, g), ran), w), s) =>
          assert(g === w, s"round $round: $s")
          // rounds 2 and 3 repeat round 1's calls: answered from kept rows
          if (round > 1) assert(ran === 0, s"round $round: $s")
          // described while the other threads described the same
          // templates' plans, rendered again here alone
          for ((df, d) <- cs.zip(described))
            assert(d === fresh(df, FormattedMode), s"round $round: $s")
        }
      }
    } finally {
      pool.shutdown()
      wide.unpersist(blocking = true)
    }
  }

  test("a chart that fails at run time fails on every call, and a valid call after it " +
      "returns rows") {
    val base = reference()
    def filtered(df: DataFrame, lo: String) =
      Dashboard.applyFilters(df, Some((lo, "Q4")), Some(Seq("BUY")))
    val want = Dashboard.metricCards(filtered(uncached(base), "Q1")).collect().toSeq
    val wide = cached(base)
    try {
      // "Qx" fails the quarter's int cast under ANSI, in the job's task
      val described = for (_ <- 1 to 2) yield {
        val Seq(start) = executionStarts {
          val e = intercept[NumberFormatException](
            Dashboard.metricCards(filtered(wide, "Qx")).collect())
          assert(e.getMessage.contains("CAST_INVALID_INPUT"))
        }
        start.physicalPlanDescription
      }
      // a failed call keeps no description: the second renders its own
      assert(described(1) === described(0))
      assert(!(described(1) eq described(0)))
      assert(Dashboard.metricCards(filtered(wide, "Q1")).collect().toSeq === want)
    } finally wide.unpersist(blocking = true)
  }

  test("an input filtered on the current time reads the time of each call, not of the first") {
    val wide = cached(reference())
    try {
      val all = Dashboard.metricCards(wide).collect().head.getLong(0)
      assert(all > 0)
      // a moment after the first call below and before the second
      val cut = new java.sql.Timestamp(System.currentTimeMillis() + 4000)
      def total(): Long =
        Dashboard.metricCards(wide.filter(current_timestamp() < lit(cut))).collect().head.getLong(0)
      assert(total() === all)
      Thread.sleep(math.max(0L, cut.getTime - System.currentTimeMillis()) + 500)
      assert(total() === 0L, "the template kept the first call's time")
    } finally wide.unpersist(blocking = true)
  }

  test("a chart over a nondeterministic input runs its job on every call") {
    val wide = cached(reference())
    try {
      def sample(): DataFrame = Dashboard.metricCards(wide.filter(rand(7) < 0.5))
      val (first, ran) = withJobCount(sample().collect().toSeq)
      assert(ran === 1)
      assert(withJobCount(sample().collect().toSeq) === ((first, 1)))
    } finally wide.unpersist(blocking = true)
  }

  test("an input that reads no cache is planned the ordinary way and gives the cached rows") {
    val base = reference()
    val local = uncached(base)
    val fresh = charts(local, states(3))
    for (df <- fresh) {
      assert(df.queryExecution.getClass === classOf[QueryExecution])
      assert(adaptive(df))
    }
    val wide = cached(base)
    try assert(fresh.map(_.collect().toSeq) === rows(wide, states(3)))
    finally wide.unpersist(blocking = true)
  }

  private val modes: Seq[ExplainMode] = Seq(SimpleMode, ExtendedMode, CodegenMode, CostMode, FormattedMode)

  /** `df`'s description in `mode`, rendered afresh from its plans: what
    * Spark's own `QueryExecution` prints for them, with nothing kept. */
  private def fresh(df: DataFrame, mode: ExplainMode): String = {
    val qe = df.queryExecution
    new QueryExecution(qe.sparkSession, qe.logical) {
      override def analyzed: LogicalPlan = qe.analyzed
      override def optimizedPlan: LogicalPlan = qe.optimizedPlan
      override def executedPlan: SparkPlan = qe.executedPlan
    }.explainString(mode)
  }

  test("a call's descriptions in every mode are those a fresh rendering of its plan gives, " +
      "for calls at two value sets run in the order A, B, A") {
    val wide = cached(reference())
    try {
      for (m <- modes) {
        val described = for ((s, i) <- Seq(states(0), states(1), states(0)).zipWithIndex) yield {
          val calls = charts(wide, s)
          // described before the collect that lets the template keep them
          val d = calls.map(_.queryExecution.explainString(m))
          calls.foreach(_.collect())
          for ((df, got) <- calls.zip(d))
            assert(got === fresh(df, m), s"call $i, $m:\n${df.queryExecution.executedPlan}")
          d
        }
        // the third call (A again) is served what the first one kept,
        // in the modes that print the physical plan alone
        if (Seq(SimpleMode, CodegenMode, FormattedMode).contains(m))
          for ((third, first) <- described(2).zip(described(0))) assert(third eq first, m)
      }
    } finally wide.unpersist(blocking = true)
  }

  /** The SQL execution start events that `body` posts. */
  private def executionStarts(body: => Unit): Seq[SparkListenerSQLExecutionStart] = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.add(s)
        case _ =>
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    starts.asScala.toSeq
  }

  /** How a description prints each value `s` binds into a chart: the
    * main-page filters into the six filtered charts, the country and the
    * quarter into the two Query Analysis charts, none into the last. */
  private def printedValues(s: State): Seq[Seq[String]] = {
    val filters = Seq(s"(${s.range._1})", s"(${s.range._2})", s.types.mkString("([", ",", "])"))
    Seq.fill(6)(filters) ++ Seq(Seq(s"(${s.country})"), Seq(s"(${s.quarter})"), Nil)
  }

  /** The root operator's line of a formatted description: a prepared
    * call's is its `BoundExec`. */
  private def root(description: String): String = description.linesIterator.drop(1).next()

  test("every chart collect, hit or miss, posts one execution start that describes its " +
      "own values, and a chart run after unpersist describes its fresh plan") {
    // another cached table, so the session's cache is not empty after
    // the unpersist below
    val other = cached(spark.range(10).toDF("n"))
    val wide = cached(reference())
    try {
      // A misses, B misses, A hits: its rows and its descriptions are kept
      for (s <- Seq(states(0), states(1), states(0)); (df, printed) <-
           charts(wide, s).zip(printedValues(s))) {
        val Seq(start) = executionStarts(df.collect())
        val d = start.physicalPlanDescription
        assert(d === fresh(df, FormattedMode), s"$s\n$d")
        assert(root(d).startsWith("Bound "), d)
        for (v <- printed) assert(d.contains(v), s"$s: $v\n$d")
      }
      val boundBefore = charts(wide, states(0))
      wide.unpersist(blocking = true)
      for (df <- boundBefore) {
        val Seq(start) = executionStarts(df.collect())
        val d = start.physicalPlanDescription
        assert(root(d).startsWith("AdaptiveSparkPlan "), d)
      }
    } finally {
      wide.unpersist(blocking = true)
      other.unpersist(blocking = true)
    }
  }
}
