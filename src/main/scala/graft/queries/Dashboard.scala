package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.graftbridge.PlanBridge.{CacheEntry, Prepared}
import org.apache.spark.sql.types.{ArrayType, StringType}

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
  *
  * One-partition policy: every chart plan reads its input through
  * `coalesce(1)` and so runs as one Spark job with one stage, with no
  * shuffle or broadcast exchange. The input is the session's serving
  * table: bounded, cached once and re-read on every widget change
  * (`st.cache_data` in the reference), so each chart's latency is set by
  * per-job fixed costs, not by the scan: job scheduling and result
  * hand-off once a template exists (planning and codegen run once per
  * template, below), and none at all for a repeated call (Result).
  * The policy is a constant, measured at 2,069 rows (the reference data)
  * and ~600k rows (an sf0.1 star join); a dashboard over an unbounded
  * table is not what these functions serve.
  *
  * Prepared-plan policy: a widget change re-runs every chart with new
  * filter values only, so over a cached table each chart is planned
  * once and each call binds its values.
  *  - Bound: the quarter range and the types of [[applyFilters]], and
  *    the country and quarter of the two Query Analysis charts, are
  *    always bound parameters, never literals, whatever the input.
  *  - Key: the session's SQL settings (a plan prepared under one
  *    session's ANSI or codegen settings does not run under another's),
  *    the cache entry the input reads (by identity: re-caching makes a
  *    new entry), the input's plan over that entry with its parameter
  *    values blanked, the chart, `groupCol` and `k`. A key whose chart
  *    cannot be prepared is stored too, and is planned afresh each call.
  *  - Call: a call whose key is known builds no intermediate Dataset and
  *    no plan copy. It puts its own parameters into a copy of the stored
  *    analyzed plan and runs one job over the RDD that the stored
  *    physical plan built on its first run, with the values carried in
  *    that job's tasks. Nothing is analyzed, optimized, planned, compiled
  *    or built again: the rows' encoder is the template's, and the
  *    physical-plan description that each `collect` posts for the SQL UI
  *    (the whole cached plan: some 700 lines over the reference table) is
  *    rendered once per template and bound values, the last 4 kept per
  *    template (byte-identical to a fresh rendering; a mode that prints
  *    a logical plan, which holds the call's own parameter ids, is
  *    rendered each time, and a call whose `collect` failed keeps none). The physical plan's SQL metrics are shared by
  *    every call of the template: each action resets them (a repeated
  *    call, which runs no job, leaves them at zero), and calls that run
  *    at once race on them, so they hold no per-call values.
  *  - Result: a template keeps the rows each `collect` of it returned,
  *    keyed by the values bound in that call (the input's filter values
  *    and the chart's own arguments), so a call that repeats an earlier
  *    one (most of them: a widget change alters one value) runs no job.
  *    It is exact: the template's key already fixes the SQL settings,
  *    the cache entry (whose rows do not change while it is served), the
  *    input's shape, the chart, `groupCol` and `k`, and the rows die with
  *    the template. Bounded at 128 value sets per template, least
  *    recently used dropped. Never kept: a failed call (it runs again),
  *    a template whose plan is not deterministic, and rows read any
  *    other way than `collect` (`.rdd`, `toLocalIterator`, a further
  *    transformation); a call run after its entry's `unpersist` is
  *    planned afresh and reads no kept rows. An input that reads the
  *    current time (or user, or database) gets no template: the
  *    optimizer would fold the first call's value into it.
  *  - Dropped: past `MaxTemplates`, the least recently used. A template
  *    whose entry was unpersisted is never hit again (no input resolves
  *    to that entry any more), and a chart bound before the `unpersist`
  *    and run after it is planned afresh when it runs, so it reads the
  *    source and does not rebuild the cache.
  *  - Not adaptive: each chart is one stage with no exchange (the
  *    one-partition policy), so AQE has nothing to re-plan; the plan is
  *    fixed, which is what lets values be rebound into it.
  * An input that reads no cached relation (a local relation, a parquet
  * scan) is planned afresh on every call.
  */
object Dashboard {

  private def cnt: Column = count(lit(1))

  /** Templates kept. Every quarter range, type set and group toggle of
    * the dashboard over one cached table needs 10 (measured: 6 filtered
    * charts, + 1 for the second top-k group column, + 3 Query Analysis
    * charts), so 64 holds several tables'. */
  private val MaxTemplates = 64

  private final case class Key(conf: Map[String, String], entry: CacheEntry,
      shape: LogicalPlan, chart: String, groupCol: String, k: Int)

  /** Prepared charts by key (None: the chart cannot be prepared), least
    * recently used first. */
  private val templates =
    new java.util.LinkedHashMap[Key, Option[Prepared]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Option[Prepared]]): Boolean =
        size() > MaxTemplates
    }

  /** Every chart runs through here, with its own arguments `args` as
    * bound string parameters. Over an input that reads a cached relation,
    * the chart is planned once per key and each call binds `args` and the
    * input's own parameters into copies of that plan; any other input
    * builds the chart afresh. `build` makes the chart from the input and
    * its parameter columns. */
  private def chart(wide: DataFrame, name: String, groupCol: String = "", k: Int = 0,
      args: Seq[String] = Nil)(build: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val params = args.map(PlanBridge.param(_, StringType))
    PlanBridge.cachedInput(wide).fold(build(wide, params)) { in =>
      val key = Key(wide.sparkSession.conf.getAll, in.entry, in.shape, name, groupCol, k)
      templates.synchronized(Option(templates.get(key))) match {
        case Some(t) => t.fold(build(wide, params))(_.bind(wide, in, params))
        case None =>
          val c = build(wide, params)
          val prepared = PlanBridge.prepare(c, in, wide, params)
          // a call that raced this one to the key keeps its template, so
          // the key has one template and one set of kept rows
          val t = templates.synchronized(Option(templates.putIfAbsent(key, prepared)))
            .getOrElse(prepared)
          t.fold(c)(_.bind(wide, in, params))
      }
    }
  }

  /** Every chart plan starts here. `coalesce(1)` adds no shuffle, and
    * its `SinglePartition` output satisfies the distribution that each
    * aggregate, window and sort asks for, so the planner inserts no
    * exchange. Nested uses collapse into one. */
  private def onePartition(wide: DataFrame): DataFrame = wide.coalesce(1)

  /** Quarter ordinal for correct Q1<Q2<Q3<Q4 ordering (ref
    * sort_quarters helper, streamlit.py:27–30; kept as a sort key
    * expression, not a storage type). */
  def quarterOrd(q: Column): Column = substring(q, 2, 1).cast("int")

  /** F2+F6 — streamlit.py:44–49, 62–75: contiguous quarter range +
    * type-membership filters. The values are bound parameters, so the
    * charts over the result reuse their plans; the type set is one array
    * parameter, so every set size shares them. Both conditions go into
    * one `filter`, so the input's plan is analyzed once per call (the
    * optimizer merged two filters into this same one). */
  def applyFilters(
      wide: DataFrame,
      quarterRange: Option[(String, String)],
      types: Option[Seq[String]]): DataFrame = {
    val inRange = quarterRange.map { case (lo, hi) =>
      quarterOrd(col("quarter")).between(
        quarterOrd(PlanBridge.param(lo, StringType)), quarterOrd(PlanBridge.param(hi, StringType)))
    }
    val ofType = types.map(ts =>
      array_contains(PlanBridge.param(ts, ArrayType(StringType)), col("transaction_type")))
    (inRange ++ ofType).reduceOption(_ && _).fold(wide)(wide.filter)
  }

  /** A4+A5+F1+F5 — streamlit.py:101–119: the five metric cards in one
    * single-pass aggregate. */
  def metricCards(wide: DataFrame): DataFrame =
    chart(wide, "metricCards") { (in, _) =>
      onePartition(in).agg(
        cnt.as("total_transactions"),
        count(when(col("transaction_type") === "BUY", 1)).as("buy_count"),
        count(when(col("transaction_type") === "SELL", 1)).as("sell_count"),
        count(when(col("transaction_type").contains("DIVID"), 1)).as("dividend_count"),
        countDistinct(col("symbol")).as("unique_symbols"))
    }

  /** A2+S3 — streamlit.py:125–126: stacked transactions by quarter. */
  def stackedByQuarter(wide: DataFrame): DataFrame =
    chart(wide, "stackedByQuarter") { (in, _) =>
      onePartition(in).groupBy(col("quarter"), col("transaction_type"))
        .agg(cnt.as("cnt"))
        .orderBy(quarterOrd(col("quarter")), col("transaction_type"))
    }

  /** A1+W1+W2+W3 — streamlit.py:152–164: BUY+SELL share of all
    * transactions per quarter, with lag-based pct change (null where the
    * previous quarter's count is 0 — pandas' NaN/inf there; ANSI mode
    * would throw DIVIDE_BY_ZERO). Both counts come from one aggregate: a
    * quarter with no BUY/SELL rows counts 0. */
  def buySellTrend(wide: DataFrame): DataFrame =
    chart(wide, "buySellTrend") { (in, _) =>
      val w = Window.orderBy(quarterOrd(col("quarter")))
      onePartition(in)
        .groupBy(col("quarter"))
        .agg(cnt.as("total_count"),
          count(when(col("transaction_type").isin("BUY", "SELL"), 1)).as("buy_sell_count"))
        .withColumn("buy_sell_pct",
          round(col("buy_sell_count") / col("total_count") * 100, 1))
        .withColumn("pct_change",
          round((col("buy_sell_count") - lag(col("buy_sell_count"), 1).over(w))
            / nullif(lag(col("buy_sell_count"), 1).over(w), lit(0L)) * 100, 1))
        .orderBy(quarterOrd(col("quarter")))
    }

  /** S4+TK2+A2+A3 — streamlit.py:249–261 (top-3 companies; the
    * groupCol is the runtime "Symbol vs Company Name" toggle,
    * streamlit.py:240–247), 287–299 (top-5 sectors), 331–343 (top-5
    * industries). One (key, type) aggregate, rolled up per key into its
    * total and detail rows; the top k keys by (total desc, key asc) keep
    * their detail, re-ordered by group total. A null key takes a top-k
    * slot but has no detail rows (the reference's key join drops it). */
  def topKWithDetail(wide: DataFrame, groupCol: String, k: Int): DataFrame =
    chart(wide, "topKWithDetail", groupCol, k) { (in, _) =>
      val key = col(groupCol)
      onePartition(in)
        .groupBy(key, col("transaction_type")).agg(cnt.as("cnt"))
        .groupBy(key).agg(sum(col("cnt")).as("total"),
          collect_list(struct(col("transaction_type"), col("cnt"))).as("detail"))
        .orderBy(col("total").desc, key.asc)
        .limit(k)
        .filter(key.isNotNull)
        .select(key, col("total"), inline(col("detail")))
        .orderBy(col("total").desc, key.asc, col("transaction_type").asc)
        .select(key, col("transaction_type"), col("cnt"))
    }

  /** Q1 — streamlit.py:378–385: top-5 sectors for SELL in a country
    * (full table — Query Analysis ignores dashboard filters). */
  def topSectorsForSellInCountry(wide: DataFrame, country: String, k: Int = 5): DataFrame =
    chart(wide, "topSectorsForSellInCountry", k = k, args = Seq(country)) { (in, a) =>
      onePartition(in)
        .filter(col("transaction_type") === "SELL" && col("country_name") === a.head)
        .groupBy(col("sector")).agg(cnt.as("cnt"))
        .orderBy(col("cnt").desc, col("sector").asc)
        .limit(k)
    }

  /** Q2 — streamlit.py:408–416: top-5 industries for BUY in a quarter. */
  def topIndustriesForBuyInQuarter(wide: DataFrame, quarter: String, k: Int = 5): DataFrame =
    chart(wide, "topIndustriesForBuyInQuarter", k = k, args = Seq(quarter)) { (in, a) =>
      onePartition(in)
        .filter(col("transaction_type") === "BUY" && col("quarter") === a.head)
        .groupBy(col("industry")).agg(cnt.as("cnt"))
        .orderBy(col("cnt").desc, col("industry").asc)
        .limit(k)
    }

  /** Q3 — streamlit.py:439–445: quarters ranked by BUY+SELL volume. */
  def quartersByBuySell(wide: DataFrame): DataFrame =
    chart(wide, "quartersByBuySell") { (in, _) =>
      onePartition(in).filter(col("transaction_type").isin("BUY", "SELL"))
        .groupBy(col("quarter")).agg(cnt.as("cnt"))
        .orderBy(col("cnt").desc, col("quarter").asc)
    }

  /** The AI-page's engine-relevant primitive (streamlit.py:493–528 sends
    * a table summary to LIDA): schema + per-column stats. */
  def summarize(wide: DataFrame): DataFrame = wide.summary()
}
