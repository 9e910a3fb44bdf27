package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.GraftQuery

/** Core relational operator catalog — the reference's operator inventory
  * (SURVEY.md §2) re-hosted onto the driver's TPC-H-ish tables, expressed
  * Spark-first so Catalyst owns the physical strategy.
  *
  * Star-schema role mapping (FIXTURES.md §B): fact = lineitem⋈orders;
  * time dim = quarter(o_orderdate) (ref dim_time, etl.ipynb:40–55);
  * geography = customer→nation→region (ref dim_geography, etl.ipynb:58–81);
  * symbol-like dim = part (ref dim_symbol, etl.ipynb:83–87);
  * type dim = l_returnflag / o_orderstatus (ref dim_transaction_type,
  * etl.ipynb:89–95).
  *
  * Determinism contract: every query ends in a total-order sort and every
  * computed column is identically aliased in the Spark plan and the DuckDB
  * oracle SQL (driver hash-compares values after sorting columns by name).
  *
  * Scale notes (100 TB): dims (region/nation/part/supplier, top-k lists)
  * are broadcast; fact-fact joins shuffle on their keys and rely on AQE for
  * skew; aggregations are partial+final hash aggregates (map-side combine
  * is free); top-k compiles to TakeOrderedAndProject, never a full sort.
  */
object CoreQueries {

  /** Quarter label from a date/timestamp — ref etl.ipynb:45 ('Q'+quarter). */
  def quarterLabel(c: Column): Column = concat(lit("Q"), quarter(c).cast("string"))

  private def cnt: Column = count(lit(1))

  val all: Seq[GraftQuery] = Seq(
    // ------------------------------------------------------------------
    // q01: the reference "Query Analysis" shape — filter + join + group
    // count + top-k (streamlit.py:378–385 "top 5 sectors for SELL in
    // China"). part.p_type plays sector; l_returnflag='R' plays SELL.
    // Catalyst plan: parquet scan with PushedFilters on l_returnflag,
    // broadcast-hash-join on the dim, partial+final hash agg,
    // TakeOrderedAndProject for the limit (no global sort).
    GraftQuery(
      "q01_topk_filter_agg",
      "F1+J1+A1+S2+S4: top-5 part types by count of returned lineitems",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .filter(col("l_returnflag") === "R")
          // part is SF-proportional — no hint; AQE broadcasts it at any
          // plausible bench SF and falls back to shuffle-hash beyond the
          // auto-threshold (PlanShapeSpec asserts the test-SF choice)
          .join(t.part, col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_type"))
          .agg(cnt.as("cnt"))
          .orderBy(col("cnt").desc, col("p_type").asc)
          .limit(5)
      },
      Some(
        """SELECT p_type, count(*) AS cnt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_returnflag = 'R'
          |GROUP BY p_type
          |ORDER BY cnt DESC, p_type ASC
          |LIMIT 5""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q02: per-quarter counts — ref dim_time derivation + group-count
    // (etl.ipynb:45, streamlit.py:152). X2 + A1 + S3 (quarter ordering).
    GraftQuery(
      "q02_quarter_agg",
      "X2+A1+S3: order counts per derived quarter label",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders
          .groupBy(quarterLabel(col("o_orderdate")).as("quarter"))
          .agg(cnt.as("cnt"))
          .orderBy(col("quarter"))
      },
      Some(
        """SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter, count(*) AS cnt
          |FROM orders
          |GROUP BY 1
          |ORDER BY quarter""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q03: two-key group count feeding stacked bars (streamlit.py:125,
    // A2) over the fact join (J1). Shuffle on l_orderkey for the join is
    // avoided: orders is the smaller side → AQE/broadcast.
    GraftQuery(
      "q03_two_key_agg",
      "J1+A2: counts by (order quarter, returnflag) over lineitem⋈orders",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(
            quarterLabel(col("o_orderdate")).as("quarter"),
            col("l_returnflag"))
          .agg(cnt.as("cnt"))
          .orderBy(col("quarter"), col("l_returnflag"))
      },
      Some(
        """SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
          |       l_returnflag, count(*) AS cnt
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1, 2
          |ORDER BY quarter, l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q04: the dashboard trend pipeline (streamlit.py:152–164): per-
    // quarter count → lag(1) → pct-change. A1+W1+W2. The window is
    // unpartitioned but runs over ≤4 post-aggregate rows — the heavy
    // lifting happened in the distributed aggregate.
    GraftQuery(
      "q04_trend_pct_change",
      "A1+W1+W2: per-quarter counts with lag-based pct change",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val perQ = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(quarterLabel(col("o_orderdate")).as("quarter"))
          .agg(cnt.as("cnt"))
        val w = Window.orderBy(col("quarter"))
        perQ
          .withColumn("prev", lag(col("cnt"), 1).over(w))
          .withColumn("pct_change",
            round((col("cnt") - col("prev")) / col("prev") * 100, 1))
          .select(col("quarter"), col("cnt"), col("pct_change"))
          .orderBy(col("quarter"))
      },
      Some(
        """WITH perq AS (
          |  SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter, count(*) AS cnt
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1)
          |SELECT quarter, cnt,
          |       round((cnt - lag(cnt, 1) OVER (ORDER BY quarter))
          |             / lag(cnt, 1) OVER (ORDER BY quarter) * 100, 1) AS pct_change
          |FROM perq
          |ORDER BY quarter""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q05: the metric-card aggregates (streamlit.py:101–119): global
    // count, conditional counts (equality + substring match on the type,
    // ref 'DIVID' quirk), exact distinct. A4+A5+F1+F5. One distributed
    // pass; countDistinct shuffles on the key — at 100 TB swap for
    // approx_count_distinct (see q22).
    GraftQuery(
      "q05_metric_cards",
      "A4+A5+F1+F5: single-row summary counts over lineitem",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem.agg(
          cnt.as("total_cnt"),
          count(when(col("l_returnflag") === "R", 1)).as("returned_cnt"),
          count(when(col("l_linestatus").contains("F"), 1)).as("f_status_cnt"),
          countDistinct(col("l_partkey")).as("uniq_parts"))
      },
      Some(
        """SELECT count(*) AS total_cnt,
          |       count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS returned_cnt,
          |       count(CASE WHEN contains(l_linestatus, 'F') THEN 1 END) AS f_status_cnt,
          |       count(DISTINCT l_partkey) AS uniq_parts
          |FROM lineitem""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q06: anti-join — the reference's orphan-symbol cleanup
    // (etl.ipynb:17–29, J4) done relationally instead of collecting a
    // key set to the driver. Here: lineitems whose part is not in the
    // large-size subset, aggregated by returnflag.
    GraftQuery(
      "q06_anti_join",
      "J4+A1: lineitems with no part of p_size>40, counts by returnflag",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val bigParts = t.part.filter(col("p_size") > 40)
        // un-hinted anti-join: bigParts is an SF-proportional subset of
        // part; AQE picks broadcast-anti at test SF on its own
        t.lineitem
          .join(bigParts, col("l_partkey") === col("p_partkey"), "left_anti")
          .groupBy(col("l_returnflag"))
          .agg(cnt.as("cnt"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag, count(*) AS cnt
          |FROM lineitem
          |WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey AND p_size > 40)
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q07: the top-k-then-restrict pipeline behind every "top N" chart
    // (streamlit.py:249–261, TK2/J5): top-3 brands, then detail counts
    // restricted to them via a broadcast left-semi join (never a
    // collected isin list).
    GraftQuery(
      "q07_semi_join_topk",
      "S4+TK2+J5+A2: top-3 brands then (brand, returnflag) detail counts",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val joined = t.lineitem
          .join(t.part, col("l_partkey") === col("p_partkey")) // un-hinted; AQE
          .select(col("p_brand"), col("l_returnflag"))
        val top3 = joined.groupBy(col("p_brand")).agg(cnt.as("cnt"))
          .orderBy(col("cnt").desc, col("p_brand").asc)
          .limit(3)
          .select(col("p_brand"))
        joined
          .join(broadcast(top3), Seq("p_brand"), "left_semi")
          .groupBy(col("p_brand"), col("l_returnflag"))
          .agg(cnt.as("cnt"))
          .orderBy(col("p_brand"), col("l_returnflag"))
      },
      Some(
        """WITH j AS (SELECT p_brand, l_returnflag
          |           FROM lineitem JOIN part ON l_partkey = p_partkey),
          |top3 AS (SELECT p_brand, count(*) AS cnt FROM j
          |         GROUP BY p_brand ORDER BY cnt DESC, p_brand ASC LIMIT 3)
          |SELECT p_brand, l_returnflag, count(*) AS cnt
          |FROM j
          |WHERE p_brand IN (SELECT p_brand FROM top3)
          |GROUP BY p_brand, l_returnflag
          |ORDER BY p_brand, l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q08: the full star denormalization — the reference ETL's join-out
    // pattern (etl.ipynb:169–192, J1/J2/P1) as ONE lazy plan: Catalyst
    // broadcast-joins every dim; only the lineitem⋈orders edge can
    // shuffle. Ordered by all output columns (lineitem has no unique key
    // in this data).
    GraftQuery(
      "q08_star_denormalize",
      "J1+J2+P1: fact joined to all dims into the wide serving table",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          // customer/part are SF-proportional → un-hinted (AQE decides);
          // nation/region are fixed 25/5-row dictionaries per the TPC-H
          // spec — SF-invariant, so the hint is provably safe
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .join(t.part, col("l_partkey") === col("p_partkey"))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            quarterLabel(col("o_orderdate")).as("quarter"),
            col("r_name").as("region"), col("n_name").as("nation"),
            col("p_type"), col("l_returnflag"))
        // No global ORDER BY: the checker sorts rows itself, and a total
        // sort of the denormalized fact is a genuine scale-killer at 100x.
      },
      Some(
        """SELECT l_orderkey, l_linenumber,
          |       'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
          |       r_name AS region, n_name AS nation, p_type, l_returnflag
          |FROM lineitem
          |JOIN orders   ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation   ON c_nationkey = n_nationkey
          |JOIN region   ON n_regionkey = r_regionkey
          |JOIN part     ON l_partkey = p_partkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q09: dimension build with sequential surrogate keys — ref
    // etl.ipynb:83–87 (A6+S1+W4). Parity mode: row_number over a global
    // sort (fine: dims are small). Scale mode for big dims lives in
    // etl.SurrogateKeys (hash / zipWithIndex policies).
    GraftQuery(
      "q09_dim_surrogate_keys",
      "A6+S1+W4: distinct p_type dim with row_number surrogate ids",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.part.select(col("p_type")).distinct()
          .withColumn("type_id",
            row_number().over(Window.orderBy(col("p_type"))).cast("long"))
          .select(col("type_id"), col("p_type"))
          .orderBy(col("type_id"))
      },
      Some(
        """SELECT row_number() OVER (ORDER BY p_type) AS type_id, p_type
          |FROM (SELECT DISTINCT p_type FROM part) t
          |ORDER BY type_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q10/q11: the report's OLAP claim (report.pdf p.4–5: roll-up /
    // drill-down / slice / dice) surfaced as native grouping sets.
    GraftQuery(
      "q10_rollup",
      "OLAP roll-up: (quarter, returnflag) with subtotals and grand total",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(quarterLabel(col("o_orderdate")).as("quarter"), col("l_returnflag"))
          .rollup(col("quarter"), col("l_returnflag"))
          .agg(cnt.as("cnt"))
          .select(
            coalesce(col("quarter"), lit("ALL")).as("quarter"),
            coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
            col("cnt"))
          .orderBy(col("quarter"), col("l_returnflag"))
      },
      Some(
        """SELECT coalesce(quarter, 'ALL') AS quarter,
          |       coalesce(l_returnflag, 'ALL') AS l_returnflag,
          |       count(*) AS cnt
          |FROM (SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter, l_returnflag
          |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
          |GROUP BY ROLLUP(quarter, l_returnflag)
          |ORDER BY quarter, l_returnflag""".stripMargin)
    ),
    GraftQuery(
      "q11_cube",
      "OLAP cube over (o_orderstatus, o_orderpriority)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(cnt.as("cnt"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            col("cnt"))
          .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      },
      Some(
        """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
          |       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
          |       count(*) AS cnt
          |FROM orders
          |GROUP BY CUBE(o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q12: pivot — the stacked-bar data shape (A2 rendered wide,
    // streamlit.py:125–126). Pivot values pinned so the plan needs no
    // extra distinct-collection job.
    GraftQuery(
      "q12_pivot",
      "A2 pivot: quarter × returnflag counts as wide columns",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(quarterLabel(col("o_orderdate")).as("quarter"), col("l_returnflag"))
          .groupBy(col("quarter"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(cnt)
          .na.fill(0L)
          .orderBy(col("quarter"))
      },
      Some(
        """SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
          |       count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS "A",
          |       count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS "N",
          |       count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS "R"
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1
          |ORDER BY quarter""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q13: ranking windows (beyond-reference window surface; ref only
    // uses lag + row_number). Partitioned window — scales: one shuffle
    // on the partition key, per-partition sort.
    GraftQuery(
      "q13_window_rank",
      "W: rank suppliers by shipped quantity within nation",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val perSupp = t.lineitem
          .join(t.supplier, col("l_suppkey") === col("s_suppkey")) // un-hinted; AQE
          .groupBy(col("s_nationkey"), col("s_name"))
          .agg(sum(col("l_quantity")).as("total_qty"))
        perSupp
          .withColumn("rnk",
            rank().over(Window.partitionBy(col("s_nationkey"))
              .orderBy(col("total_qty").desc, col("s_name").asc)).cast("long"))
          .select(col("s_nationkey"), col("s_name"), col("total_qty"), col("rnk"))
          .orderBy(col("s_nationkey"), col("rnk"), col("s_name"))
      },
      Some(
        """WITH per_supp AS (
          |  SELECT s_nationkey, s_name, sum(l_quantity) AS total_qty
          |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |  GROUP BY s_nationkey, s_name)
          |SELECT s_nationkey, s_name, total_qty,
          |       rank() OVER (PARTITION BY s_nationkey
          |                    ORDER BY total_qty DESC, s_name ASC) AS rnk
          |FROM per_supp
          |ORDER BY s_nationkey, rnk, s_name""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q14: predicate composition — IN-list + BETWEEN range + conjunction
    // (F2+F4+F6, the dashboard's quarter-slider ∧ type-multiselect,
    // streamlit.py:64–96). All three predicates push to the scan.
    GraftQuery(
      "q14_filter_inlist_between",
      "F2+F4+F6: composed predicates then (quarter, status) counts",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders
          .select(quarterLabel(col("o_orderdate")).as("quarter"),
            col("o_orderstatus"), col("o_totalprice"))
          .filter(col("quarter").between("Q2", "Q3")
            && col("o_orderstatus").isin("F", "O")
            && col("o_totalprice").between(1000.0, 200000.0))
          .groupBy(col("quarter"), col("o_orderstatus"))
          .agg(cnt.as("cnt"))
          .orderBy(col("quarter"), col("o_orderstatus"))
      },
      Some(
        """SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
          |       o_orderstatus, count(*) AS cnt
          |FROM orders
          |WHERE 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) BETWEEN 'Q2' AND 'Q3'
          |  AND o_orderstatus IN ('F', 'O')
          |  AND o_totalprice BETWEEN 1000.0 AND 200000.0
          |GROUP BY 1, 2
          |ORDER BY quarter, o_orderstatus""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q15: left join + null-fill — the trend pipeline's join of two
    // aggregates with fillna(0) (streamlit.py:159–160, J2+F8).
    GraftQuery(
      "q15_left_join_fill",
      "J2+F8: per-customer order counts including zero-order customers",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val perCust = t.orders.groupBy(col("o_custkey")).agg(cnt.as("ocnt"))
        t.customer
          .join(perCust, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("ocnt"), lit(0L)).as("order_cnt"))
          .orderBy(col("c_custkey"))
      },
      Some(
        """SELECT c_custkey, coalesce(ocnt, 0) AS order_cnt
          |FROM customer
          |LEFT JOIN (SELECT o_custkey, count(*) AS ocnt FROM orders GROUP BY o_custkey) o
          |  ON c_custkey = o_custkey
          |ORDER BY c_custkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q16: distinct (A6, etl.ipynb:48 drop_duplicates).
    GraftQuery(
      "q16_distinct",
      "A6: distinct (returnflag, linestatus) pairs",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem.select(col("l_returnflag"), col("l_linestatus"))
          .distinct()
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(
        """SELECT DISTINCT l_returnflag, l_linestatus
          |FROM lineitem
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q17/q18: set operations (§2.8) — EXCEPT implements the reference's
    // key-set difference (etl.ipynb:19) relationally; UNION ALL + agg.
    GraftQuery(
      "q17_set_except",
      "SET: customers with orders but no fulfilled ('F') order",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders.select(col("o_custkey").as("custkey"))
          .except(t.orders.filter(col("o_orderstatus") === "F")
            .select(col("o_custkey").as("custkey")))
          .orderBy(col("custkey"))
      },
      Some(
        """SELECT o_custkey AS custkey FROM orders
          |EXCEPT
          |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
          |ORDER BY custkey""".stripMargin)
    ),
    GraftQuery(
      "q18_set_union",
      "SET: union-all of customer+supplier nation keys, counted",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.customer.select(col("c_nationkey").as("nationkey"))
          .union(t.supplier.select(col("s_nationkey").as("nationkey")))
          .groupBy(col("nationkey"))
          .agg(cnt.as("cnt"))
          .orderBy(col("nationkey"))
      },
      Some(
        """SELECT nationkey, count(*) AS cnt
          |FROM (SELECT c_nationkey AS nationkey FROM customer
          |      UNION ALL
          |      SELECT s_nationkey AS nationkey FROM supplier) t
          |GROUP BY nationkey
          |ORDER BY nationkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q19: scalar function surface (X1–X7): timestamp format round-trip,
    // quarter/year extraction, arithmetic, CASE branch, contains, floor
    // cast. The cheap numeric/string scalars ride the scan as a codegen
    // projection; the FORMATTER-bound date scalars (format → reparse
    // round-trip, ~µs per call) are memoized over the distinct-date
    // dictionary and broadcast back — shipdate cardinality is a few
    // thousand against billions of fact rows, so the formatter runs
    // |dates| times instead of |lineitem| times and the per-row cost
    // becomes a broadcast hash probe. The fact table is never shuffled
    // (the only exchange is the tiny distinct-date partial aggregate).
    // Measured at sf0.1: 1.22s → 0.80s; the gap widens with scale.
    // Per-row IEEE double math is bit-identical across engines (no
    // aggregation order).
    GraftQuery(
      "q19_scalar_funcs",
      "X1–X7: scalar string/date/math functions (formatter scalars memoized over the date dictionary)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // dateDict is bounded by the calendar domain (~2.5k distinct
        // shipdates over TPC-H's 7-year window, SF-invariant) — the
        // broadcast hint below is provably safe at any scale
        val dateDict = t.lineitem.select(col("l_shipdate")).distinct()
          .select(col("l_shipdate"),
            to_timestamp(
              date_format(col("l_shipdate"), "dd/MM/yyyy HH:mm:ss"),
              "dd/MM/yyyy HH:mm:ss").as("reparsed_ts"),
            quarterLabel(col("l_shipdate")).as("ship_quarter"),
            year(col("l_shipdate")).cast("long").as("ship_year"))
        // LEFT join: a NULL l_shipdate never matches the dictionary, and
        // the pure-projection original would have emitted NULL scalars
        // for it — the left join preserves exactly that row (with NULL
        // dict columns) instead of silently dropping it. Still a
        // broadcast hash join (LeftOuter, build right).
        t.lineitem.join(broadcast(dateDict), Seq("l_shipdate"), "left")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            col("reparsed_ts"), col("ship_quarter"), col("ship_year"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
            when(col("l_quantity") > 25, "HIGH").otherwise("LOW").as("qty_band"),
            col("l_returnflag").contains("R").as("is_return"),
            floor(col("l_quantity")).cast("long").as("qty_int"))
        // No global ORDER BY — see q08; the checker sorts rows itself.
      },
      Some(
        """SELECT l_orderkey, l_linenumber,
          |       strptime(strftime(l_shipdate, '%d/%m/%Y %H:%M:%S'), '%d/%m/%Y %H:%M:%S') AS reparsed_ts,
          |       'Q' || CAST(quarter(l_shipdate) AS VARCHAR) AS ship_quarter,
          |       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          |       l_extendedprice * (1.0 - l_discount) AS net_price,
          |       CASE WHEN l_quantity > 25 THEN 'HIGH' ELSE 'LOW' END AS qty_band,
          |       contains(l_returnflag, 'R') AS is_return,
          |       CAST(floor(l_quantity) AS BIGINT) AS qty_int
          |FROM lineitem""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q20: event-time tumbling aggregation (batch analog of the
    // streaming extension, SURVEY §7.5; streaming twin lives in
    // graft.streaming and is exercised by ScalaTest). min/max are exact
    // on doubles (order-independent), so oracle-safe.
    GraftQuery(
      "q20_events_hourly",
      "event-time tumbling(1h) counts + min/max value per event_type",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.events
          .groupBy(
            date_trunc("hour", col("ts")).as("hour_start"),
            col("event_type"))
          .agg(cnt.as("cnt"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"))
          .orderBy(col("hour_start"), col("event_type"))
      },
      Some(
        """SELECT date_trunc('hour', ts) AS hour_start, event_type,
          |       count(*) AS cnt, min(value) AS min_value, max(value) AS max_value
          |FROM events
          |GROUP BY 1, 2
          |ORDER BY hour_start, event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q21: semi-structured extraction from the events.props JSON column.
    GraftQuery(
      "q21_events_json",
      "JSON extraction + scalar transforms over events",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.events
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("prop_k"),
            upper(col("event_type")).as("event_type_u"))
          .orderBy(col("event_id"))
      },
      Some(
        """SELECT event_id,
          |       CAST(props ->> '$.k' AS BIGINT) AS prop_k,
          |       upper(event_type) AS event_type_u
          |FROM events
          |ORDER BY event_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q23: as-of join (ops.AsofJoin) — for each click, the user's most
    // recent purchase at or before it. DuckDB verifies with its native
    // ASOF LEFT JOIN, so the composed-operator semantics are oracle-
    // checked end to end. Purchases are pre-aggregated per (user, ts)
    // with max() so tie behavior is engine-independent.
    GraftQuery(
      "q23_asof_join",
      "as-of join: latest purchase at-or-before each click, per user",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val purchases = t.events.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("prev_purchase_id"),
            max(col("value")).as("prev_purchase_value"))
        val clicks = t.events.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        AsofJoin.leftAsof(clicks, purchases, "user_id", "ts",
            Seq("prev_purchase_id", "prev_purchase_value"))
          .select(col("event_id"), col("user_id"),
            col("prev_purchase_id"), col("prev_purchase_value"))
          .orderBy(col("event_id"))
      },
      Some(
        """WITH purchases AS (
          |  SELECT user_id, ts, max(event_id) AS prev_purchase_id,
          |         max(value) AS prev_purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |clicks AS (
          |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
          |SELECT c.event_id, c.user_id, p.prev_purchase_id, p.prev_purchase_value
          |FROM clicks c ASOF LEFT JOIN purchases p
          |  ON c.user_id = p.user_id AND c.ts >= p.ts
          |ORDER BY c.event_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q24: range join — clicks within 5 minutes before each error, per
    // user. A naive time-range join is a broadcast-nested-loop in Spark;
    // the scale pattern is BUCKETIZATION: bin the probe side by the range
    // width, explode each build row into its two candidate bins, and
    // equi-join on (key, bin) before the exact range filter — one
    // shuffle, no cross product. DuckDB verifies with a plain inequality
    // join.
    GraftQuery(
      "q24_range_join",
      "bucketized range join: clicks in the 5 min before each error",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val binUs = 300000000L // 5 minutes in microseconds
        // Floor division via exact integer arithmetic (`div` truncates
        // toward zero, which mis-bins pre-1970 negative unix_micros; plain
        // `/` is double division, off by 1 ulp at exact bin boundaries).
        def bin(c: Column): Column =
          ((unix_micros(c) - pmod(unix_micros(c), lit(binUs))) / lit(binUs))
            .cast("long")
        val errors = t.events.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("e_ts"))
          .withColumn("bin0", bin(col("e_ts")))
          .withColumn("bucket", explode(array(col("bin0") - 1, col("bin0"))))
          .drop("bin0")
        val clicks = t.events.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"),
            col("event_id").as("click_id"))
          .withColumn("bucket", bin(col("c_ts")))
        errors.join(clicks, Seq("user_id", "bucket"), "left")
          .groupBy(col("error_id"), col("user_id"))
          .agg(count(when(col("c_ts").between(
            col("e_ts") - expr("INTERVAL 5 MINUTES"), col("e_ts")), 1))
            .as("clicks_before"))
          .orderBy(col("error_id"))
      },
      Some(
        """SELECT e.event_id AS error_id, e.user_id,
          |       count(CASE WHEN c.ts IS NOT NULL THEN 1 END) AS clicks_before
          |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
          |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
          |  ON e.user_id = c.user_id
          | AND c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts
          |GROUP BY e.event_id, e.user_id
          |ORDER BY error_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q22: sketch aggregate — approx_count_distinct (HLL++). The 100 TB
    // replacement for q05's exact countDistinct. The HLL ESTIMATE is
    // engine-specific (Spark's HLL++ register layout vs DuckDB's), so it
    // cannot hash-match an oracle — but its ERROR-BOUND SPEC can: the
    // verified output carries the exact distinct count plus a flag that
    // the sketch estimate landed within the documented 5% bound (well
    // above the rsd=1% the sketch is configured for), which DuckDB
    // replays as exact-count + literal true. A broken sketch (or a
    // drifted bound) flips the flag and breaks the hash — a FULL oracle
    // on the estimator's contract, strictly stronger than the old
    // rows-only check (round-13 verdict item 7). The production query
    // is the sketch alone; the exact twin is verification apparatus,
    // so it lives ONLY in the verified plan — the benched plan
    // (benchRun) is the sketch by itself, or the published number
    // would time the exact-distinct scan the sketch exists to replace
    // (round-13 verdict item 4: q22 went 1.4→4.9 s measuring its own
    // oracle).
    GraftQuery(
      "q22_approx_count_distinct",
      "HLL sketch: approx distinct partkeys per returnflag, error-bound-checked vs exact",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .groupBy(col("l_returnflag"))
          .agg(
            approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            when(abs(col("approx_parts") - col("exact_parts"))
              <= col("exact_parts") * 0.05, 1L).otherwise(0L)
              .as("est_within_5pct"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag,
          |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
          |       CAST(1 AS BIGINT) AS est_within_5pct
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin),
      benchRun = Some((spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
          .orderBy(col("l_returnflag"))
      })
    ),

    // ------------------------------------------------------------------
    // q26: grouped exact top-k via a typed Aggregator
    // (graft.functions.expressions.GroupedTopK — Spark's ScalaAggregator
    // wraps it as a TypedImperativeAggregate). The window-rank
    // formulation (q13) shuffles + sorts every row of every group; this
    // plan is ONE ObjectHashAggregate pair whose partial side emits at
    // most k elements per (group, partition) into the shuffle — the
    // 100 TB-safe shape for "top N per key". Oracle = the equivalent
    // row_number() <= k SQL (identical tie-break: score desc, id asc).
    GraftQuery(
      "q26_grouped_topk_agg",
      "top-3 customers per nation by lineitem count, bounded-heap aggregate",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val perCust = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(t.customer, col("o_custkey") === col("c_custkey")) // un-hinted; AQE
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("c_custkey"))
          .agg(cnt.as("cnt"))
        val topk = graft.functions.expressions.GroupedTopK.topK(3)
        perCust
          .groupBy(col("n_name"))
          .agg(topk(col("cnt").cast("double"), col("c_custkey")).as("topk"))
          .select(col("n_name"), posexplode(col("topk")))
          .select(
            col("n_name"),
            (col("pos") + 1).cast("long").as("rk"),
            col("col").getField("id").as("c_custkey"),
            col("col").getField("score").cast("long").as("cnt"))
          .orderBy(col("n_name"), col("rk"))
      },
      Some(
        """WITH cc AS (
          |  SELECT n_name, c_custkey, count(*) AS cnt
          |  FROM lineitem
          |  JOIN orders   ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN nation   ON c_nationkey = n_nationkey
          |  GROUP BY n_name, c_custkey),
          |rk AS (
          |  SELECT n_name, c_custkey, cnt,
          |         row_number() OVER (PARTITION BY n_name
          |                            ORDER BY cnt DESC, c_custkey) AS rk
          |  FROM cc)
          |SELECT n_name, CAST(rk AS BIGINT) AS rk, c_custkey, cnt
          |FROM rk WHERE rk <= 3
          |ORDER BY n_name, rk""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q28: exact grouped quantiles (dashboard slider bounds / outlier
    // cuts). Spark `percentile` and DuckDB `quantile_cont` share the
    // same continuous-interpolation definition; l_quantity is integral
    // so the interpolated values are exact binary fractions — safe to
    // hash-compare as doubles. Exact percentile buffers per-group values
    // (fine for bounded groups); the 100 TB path is approx_percentile
    // (t-digest sketch, mergeable map-side) — CoreOperatorsSpec pins it
    // within 1 of exact on this data.
    GraftQuery(
      "q28_grouped_quantiles",
      "exact p50/p90 of l_quantity per returnflag (scale path: approx_percentile)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.9)").as("p90"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag,
          |       quantile_cont(l_quantity, 0.5) AS p50,
          |       quantile_cont(l_quantity, 0.9) AS p90
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q29: batch sessionization — the gap-rule session assignment as one
    // windowed plan (lag → new-session flag → running sum), the batch
    // twin of streaming.EventStreams.sessionize. One shuffle on user_id,
    // one per-partition sort; sessions of any length never leave their
    // partition. Fully deterministic (ties broken by event_id) → full
    // oracle.
    GraftQuery(
      "q29_sessionize_batch",
      "gap-based (30 min) session assignment + per-session aggregates",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val gapUs = 1800000000L // 30 minutes
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.events
          .withColumn("new_sess",
            when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
              > gapUs, 1L).otherwise(0L))
          .withColumn("session_seq", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(cnt.as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"))
          .orderBy(col("user_id"), col("session_seq"))
      },
      Some(
        """WITH flagged AS (
          |  SELECT user_id, event_id, ts,
          |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER
          |                (PARTITION BY user_id ORDER BY ts, event_id))
          |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
          |  FROM events),
          |sessions AS (
          |  SELECT user_id, ts,
          |         CAST(sum(new_sess) OVER (PARTITION BY user_id
          |             ORDER BY ts, event_id
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |           AS session_seq
          |  FROM flagged)
          |SELECT user_id, session_seq, count(*) AS n_events,
          |       min(ts) AS session_start, max(ts) AS session_end
          |FROM sessions
          |GROUP BY user_id, session_seq
          |ORDER BY user_id, session_seq""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q30: z-score outlier detection with EXACT moments: l_quantity is
    // integral, so sum and sum-of-squares are computed as exact BIGINTs
    // and both engines derive the identical double std from the same
    // closed formula — no Welford-vs-naive accumulation drift, which is
    // what makes a cross-engine stddev hash-comparable at all. One
    // aggregate + one broadcast join back; no window over the fact.
    GraftQuery(
      "q30_outlier_zscore",
      "per-returnflag exact-moment z-score outlier counts (|z| > 1.8)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val qty = col("l_quantity").cast("long")
        val stats = t.lineitem
          .groupBy(col("l_returnflag"))
          .agg(sum(qty).as("s"), sum(qty * qty).as("ss"), cnt.as("n"))
          .select(col("l_returnflag"),
            (col("s").cast("double") / col("n")).as("mu"),
            sqrt((col("ss").cast("double") -
              col("s").cast("double") * col("s") / col("n")) / (col("n") - 1))
              .as("sd"))
        t.lineitem
          .join(broadcast(stats), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(when(abs((qty - col("mu")) / col("sd")) > 1.8, 1)).as("n_outliers"),
            cnt.as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """WITH stats AS (
          |  SELECT l_returnflag,
          |         CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS mu,
          |         sqrt((CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
          |               - CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
          |                 * sum(CAST(l_quantity AS BIGINT)) / count(*))
          |              / (count(*) - 1)) AS sd
          |  FROM lineitem GROUP BY l_returnflag)
          |SELECT l.l_returnflag,
          |       count(CASE WHEN abs((CAST(l_quantity AS BIGINT) - mu) / sd) > 1.8
          |                  THEN 1 END) AS n_outliers,
          |       count(*) AS n_rows
          |FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
          |GROUP BY l.l_returnflag
          |ORDER BY l.l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q32: event-time rolling aggregates — a RANGE frame over integer
    // hour indices (not ROWS), so gaps in the hourly series are handled
    // correctly: the 3-hour window covers wall-clock hours, not the 3
    // previous present rows. Shape at scale: one shuffle for the hourly
    // pre-aggregation (map-side combined), then the window repartitions
    // by event_type — the window input is already reduced to
    // |types|×|hours| rows, so the sort inside each partition is tiny no
    // matter how large the raw event stream is. All outputs integral.
    GraftQuery(
      "q32_rolling_window_time",
      "per-type hourly counts + 3-hour RANGE-window rolling aggregates",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val hourly = t.events
          .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
            col("event_type"))
          .agg(cnt.as("cnt"))
          .withColumn("hour_idx", expr("unix_micros(hour_start) div 3600000000"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
          .rangeBetween(-2, 0)
        hourly.select(
            col("event_type"), col("hour_start"), col("cnt"),
            sum(col("cnt")).over(w).as("roll3h_cnt"),
            max(col("cnt")).over(w).as("roll3h_max"),
            cnt.over(w).as("n_hours_window"))
          .orderBy(col("event_type"), col("hour_start"))
      },
      Some(
        """WITH h AS (
          |  SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS cnt
          |  FROM events GROUP BY 1, 2),
          |i AS (SELECT *, epoch_us(hour_start) // 3600000000 AS hour_idx FROM h)
          |SELECT event_type, hour_start, cnt,
          |       CAST(sum(cnt) OVER w AS BIGINT) AS roll3h_cnt,
          |       CAST(max(cnt) OVER w AS BIGINT) AS roll3h_max,
          |       CAST(count(*) OVER w AS BIGINT) AS n_hours_window
          |FROM i
          |WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
          |             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
          |ORDER BY event_type, hour_start""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q33: explicit GROUPING SETS — the general form behind rollup (q10)
    // and cube (q11): an arbitrary set of grouping combinations computed
    // in one pass (Spark expands then aggregates once; no N separate
    // scans), with grouping() flags disambiguating real NULLs from
    // subtotal rows. Exercised through the SQL-text surface
    // (GROUPING SETS has no DataFrame-API equivalent), which is itself a
    // §2 surface the catalog must cover.
    GraftQuery(
      "q33_grouping_sets",
      "explicit GROUPING SETS aggregate with grouping() flags (SQL surface)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        // view name scoped by data dir: concurrent catalog invocations on
        // different dirs in one session must not clobber each other.
        // Hex-encoding the path is injective (a hash would not be).
        val vn = "orders_q33_" +
          dir.getBytes("UTF-8").map(b => f"$b%02x").mkString
        t.orders.createOrReplaceTempView(vn)
        spark.sql(
          s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
            |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
            |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio
            |FROM $vn
            |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
            |                        (o_orderstatus), ())
            |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
            |         o_orderpriority NULLS FIRST""".stripMargin)
      },
      Some(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
          |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), ())
          |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
          |         o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q34: ordered-sequence funnel — users who viewed, then clicked
    // strictly after their first view, then purchased strictly after
    // that first click. Each stage is a conditional min-aggregate over
    // events joined to the (much smaller) previous stage's user set —
    // equi-joins on user_id that AQE broadcast-converts when the
    // surviving stage fits, shuffles otherwise; no window over the raw
    // event stream and no per-user collect. The three stage counts
    // attach as broadcast single rows (BNLJ on 1-row sides).
    GraftQuery(
      "q34_funnel_steps",
      "view → click → purchase funnel stage counts (strict event order)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events
        val v = ev.where(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
        val c = ev.where(col("event_type") === "click")
          .join(v, Seq("user_id"))
          .where(col("ts") > col("v_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
        val p = ev.where(col("event_type") === "purchase")
          .join(c, Seq("user_id"))
          .where(col("ts") > col("c_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
        v.agg(cnt.as("n_view"))
          .crossJoin(c.agg(cnt.as("n_click_after_view")))
          .crossJoin(p.agg(cnt.as("n_purchase_after_click")))
      },
      Some(
        """WITH v AS (
          |  SELECT user_id, min(ts) AS v_ts FROM events
          |  WHERE event_type = 'view' GROUP BY user_id),
          |c AS (
          |  SELECT e.user_id, min(e.ts) AS c_ts FROM events e
          |  JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
          |  GROUP BY e.user_id),
          |p AS (
          |  SELECT e.user_id, min(e.ts) AS p_ts FROM events e
          |  JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
          |  GROUP BY e.user_id)
          |SELECT (SELECT count(*) FROM v) AS n_view,
          |       (SELECT count(*) FROM c) AS n_click_after_view,
          |       (SELECT count(*) FROM p) AS n_purchase_after_click""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q35: cohort retention — users grouped by first-seen day, distinct
    // active users per (cohort, day-offset). One agg for first-seen (the
    // user dimension AQE broadcast-converts when it fits), one
    // distinct-agg for the matrix; count(DISTINCT) is exact two-phase
    // hash aggregation, and q22's HLL sketch is the documented
    // approximate path when user cardinality at 100 TB makes exact
    // distinct too wide. Cohort day emitted as a string: parquet DATE vs
    // DuckDB DATE reach pandas as different dtypes, and the driver's
    // compare is dtype-strict.
    GraftQuery(
      "q35_cohort_retention",
      "distinct active users per (first-seen-day cohort, day offset)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events.select(col("user_id"), to_date(col("ts")).as("day"))
        val firstDay = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        ev.join(firstDay, Seq("user_id"))
          .groupBy(
            date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort"), col("day_offset"))
      },
      Some(
        """WITH d AS (
          |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
          |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
          |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
          |       CAST(d.day - f.cohort_day AS BIGINT) AS day_offset,
          |       count(DISTINCT d.user_id) AS n_users
          |FROM d JOIN f USING (user_id)
          |GROUP BY 1, 2
          |ORDER BY cohort, day_offset""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q37: the 100 TB skew story end-to-end under the oracle. The derived
    // key maps HALF the fact table to one hot key (every l_quantity ≤ 25
    // row → key 0), the exact shape AQE's skew split cannot fix (one key,
    // one build row — post-shuffle split can't separate rows of a single
    // key meeting a single hash bucket). SkewJoin.salted spreads key 0
    // over 8 reducers by salting the probe side and replicating the
    // 100-row build side 8×; the shuffle_hash hint keeps the join a
    // shuffle join (a broadcast would hide the skew this entry
    // demonstrates — at 100 TB the build side has outgrown broadcast).
    // Salting is row-for-row identical to the plain join, so the oracle
    // is the UNSALTED join in DuckDB. Sums stay exact: l_quantity is
    // integral-valued.
    GraftQuery(
      "q37_skew_join",
      "salted shuffle join on a key holding 50% of the fact rows (oracle = plain join)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val fact = t.lineitem.select(
          when(col("l_quantity") <= 25, lit(0L))
            .otherwise(pmod(col("l_partkey"), lit(100L))).as("skew_key"),
          col("l_quantity"))
        val dim = t.part
          .groupBy(pmod(col("p_partkey"), lit(100L)).as("skew_key"))
          .agg(cnt.as("n_parts"), max(col("p_retailprice")).as("max_retail"))
        graft.ops.SkewJoin
          .salted(fact, dim.hint("shuffle_hash"), Seq("skew_key"), r = 8)
          .groupBy(col("skew_key"))
          .agg(cnt.as("cnt"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            max(col("n_parts")).as("n_parts"),
            max(col("max_retail")).as("max_retail"))
          .orderBy(col("skew_key"))
      },
      Some(
        """WITH fact AS (
          |  SELECT CASE WHEN l_quantity <= 25 THEN 0 ELSE l_partkey % 100 END AS skew_key,
          |         l_quantity
          |  FROM lineitem),
          |dim AS (
          |  SELECT p_partkey % 100 AS skew_key, count(*) AS n_parts,
          |         max(p_retailprice) AS max_retail
          |  FROM part GROUP BY 1)
          |SELECT f.skew_key, count(*) AS cnt,
          |       CAST(sum(f.l_quantity) AS BIGINT) AS sum_qty,
          |       max(d.n_parts) AS n_parts, max(d.max_retail) AS max_retail
          |FROM fact f JOIN dim d ON f.skew_key = d.skew_key
          |GROUP BY f.skew_key
          |ORDER BY f.skew_key""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q38: partition pruning on the warehouse layout. lineitem is written
    // ONCE per (JVM, dataset) hive-partitioned by ship-quarter
    // (io/WarehouseLayout — the IvfIndex build/probe billing pattern
    // applied to the star schema); the query slices one quarter and the
    // scan's PartitionFilters keeps every other quarter's files untouched
    // at plan time (WritersSpec asserts the plan). The oracle computes
    // the same slice from the raw table — layout must never change
    // results, only cost.
    GraftQuery(
      "q38_partition_pruned_scan",
      "one-quarter slice of the ship-quarter-partitioned lineitem layout (pruned scan)",
      (spark, dir) => {
        val layout = graft.io.WarehouseLayout.lineitemByShipQuarter(spark, dir)
        spark.read.parquet(layout)
          .where(col("ship_quarter") === "1995Q2")
          .groupBy(col("l_returnflag"))
          .agg(cnt.as("cnt"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            countDistinct(col("l_partkey")).as("n_parts"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag, count(*) AS cnt,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |       count(DISTINCT l_partkey) AS n_parts
          |FROM lineitem
          |WHERE year(l_shipdate) = 1995 AND quarter(l_shipdate) = 2
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q80: DYNAMIC partition pruning — q38's layout pruned by a filter
    // the planner cannot see statically: the pruning quarters come from
    // a JOINED dim (the distinct order quarters of 1995), so the fact
    // partitions to skip are only known once the dim side is evaluated.
    // Spark's DPP inserts a pruning subquery into the fact scan's
    // PartitionFilters that REUSES the dim's broadcast (the
    // reuseBroadcastOnly default — zero extra jobs), and the scan reads
    // only the 4 matching quarter directories out of ~28. This is THE
    // star-schema scan killer at 100 TB: a date-dim filter prunes the
    // fact scan without the query ever naming a partition value.
    // PlanShapeSpec asserts `dynamicpruning` reaches PartitionFilters;
    // the oracle recomputes from the raw tables (layout changes cost,
    // never results).
    GraftQuery(
      "q80_dynamic_partition_pruning",
      "star join to a year-filtered quarter dim prunes the partitioned fact scan at runtime (DPP, broadcast reuse)",
      (spark, dir) => {
        val layout = graft.io.WarehouseLayout.lineitemByShipQuarter(spark, dir)
        val fact = spark.read.parquet(layout)
        val t = Tables(spark, dir)
        val dim = t.orders.select(
            concat(year(col("o_orderdate")).cast("string"),
              quarterLabel(col("o_orderdate"))).as("ship_quarter"),
            year(col("o_orderdate")).as("o_year"))
          .distinct()
          .where(col("o_year") === 1995)
          .select(col("ship_quarter"))
        fact.join(dim, Seq("ship_quarter"))
          .groupBy(col("ship_quarter"))
          .agg(cnt.as("cnt"),
            sum(col("l_quantity")).cast("long").as("sum_qty"))
          .orderBy(col("ship_quarter"))
      },
      Some(
        """WITH dim AS (
          |  SELECT DISTINCT CAST(year(o_orderdate) AS VARCHAR) || 'Q' ||
          |         CAST(quarter(o_orderdate) AS VARCHAR) AS ship_quarter
          |  FROM orders WHERE year(o_orderdate) = 1995),
          |fact AS (
          |  SELECT CAST(year(l_shipdate) AS VARCHAR) || 'Q' ||
          |         CAST(quarter(l_shipdate) AS VARCHAR) AS ship_quarter,
          |         l_quantity
          |  FROM lineitem)
          |SELECT f.ship_quarter, count(*) AS cnt,
          |       CAST(sum(f.l_quantity) AS BIGINT) AS sum_qty
          |FROM fact f JOIN dim USING (ship_quarter)
          |GROUP BY 1
          |ORDER BY 1""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q81: correlated subqueries through the SQL surface — EXISTS plus a
    // correlated scalar COUNT, the shape every hand-written dashboard
    // query eventually takes. The value is in what Catalyst does to it:
    // RewritePredicateSubquery turns the EXISTS into a LEFT SEMI hash
    // join and RewriteCorrelatedScalarSubquery decorrelates the COUNT
    // into an aggregate-then-outer-join (handling the classic COUNT bug:
    // empty groups must read 0, not NULL) — so the executed plan is two
    // hash joins over ONE scan each, never a per-customer re-execution
    // of the subquery (the nested-loop semantics the SQL literally
    // describes, quadratic at 100 TB). PlanShapeSpec pins the
    // decorrelation: LeftSemi present, no BroadcastNestedLoopJoin.
    // DuckDB runs the very same SQL text as the oracle.
    GraftQuery(
      "q81_correlated_subqueries",
      "EXISTS + correlated scalar COUNT decorrelated to semi/outer hash joins (pure SQL surface)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.customer.createOrReplaceTempView("q81_customer")
        t.orders.createOrReplaceTempView("q81_orders")
        spark.sql(
          """SELECT c_custkey,
            |       (SELECT count(*) FROM q81_orders o
            |        WHERE o.o_custkey = c.c_custkey) AS n_orders
            |FROM q81_customer c
            |WHERE EXISTS (SELECT 1 FROM q81_orders o
            |              WHERE o.o_custkey = c.c_custkey
            |                AND o.o_orderpriority = '1-URGENT')
            |ORDER BY c_custkey""".stripMargin)
      },
      Some(
        """SELECT c_custkey,
          |       (SELECT count(*) FROM orders o
          |        WHERE o.o_custkey = c.c_custkey) AS n_orders
          |FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q39: SCD type-2 dimension versioning from a change log — the
    // warehouse op that turns "current state" dims into historical ones.
    // Each customer's order-priority history collapses consecutive equal
    // values into versioned rows with [valid_from, valid_to) ranges and
    // an is_current flag. Plan shape: ONE shuffle on custkey; both
    // window passes (change detection, then valid_to/version over the
    // change rows) share the same partitioning and ordering, so the
    // second Window reuses the first's sort — no re-exchange, no
    // re-sort. Ordering (o_orderdate, o_orderkey) is a total order per
    // customer (orderkey unique), so the versioning is deterministic.
    // Dates are emitted as strings for the dtype-strict oracle compare
    // (same reasoning as q35's cohort day).
    GraftQuery(
      "q39_scd2_dimension",
      "SCD type-2 versioned dimension from the order-priority change log",
      (spark, dir) => scd2Dimension(spark, dir).orderBy(col("custkey"), col("version")),
      Some(
        """WITH ch AS (
          |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
          |         lag(o_orderpriority) OVER w AS prev
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
          |v AS (
          |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
          |  FROM ch WHERE prev IS NULL OR prev <> o_orderpriority)
          |SELECT o_custkey AS custkey, o_orderpriority AS priority,
          |       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
          |       strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d') AS valid_to,
          |       CAST(row_number() OVER w2 AS BIGINT) AS version,
          |       CAST(CASE WHEN lead(o_orderdate) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT)
          |         AS is_current
          |FROM v
          |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY custkey, version""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q40: runtime bloom-filter pruning on a fact-fact shuffle join — the
    // 100 TB lever when neither side broadcasts: Spark's InjectRuntimeFilter
    // builds a bloom filter from the SELECTIVE side's join keys and pushes
    // might_contain onto the big side's scan, so most lineitem rows die
    // before the exchange instead of shuffling. The isolated session turns
    // broadcast OFF (at 100 TB the filtered orders side has outgrown it —
    // same premise as q37) and prefers shuffled-hash over sort-merge; the
    // application-side threshold is lowered because the heuristic's 10 GB
    // floor is tuned for clusters, not sf0.01. Bloom false positives only
    // cost work, never rows: the equi-join re-verifies exactly, so the
    // oracle is the plain join. PlanShapeSpec asserts might_contain is
    // actually injected.
    GraftQuery(
      "q40_bloom_filtered_join",
      "selective fact-fact join with runtime bloom-filter scan pruning (oracle = plain join)",
      (spark, dir) => {
        val s = spark.newSession()
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        val t = Tables(s, dir)
        val sel = t.orders
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
        t.lineitem
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .join(sel, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l_returnflag, count(*) AS cnt,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |       count(DISTINCT o_orderkey) AS n_orders
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q41: ranking-window suite — the analytic functions beyond
    // rank/lag already covered (q04/q13): ntile quartiles, percent_rank,
    // cume_dist, and frame-bounded first/nth value, all over ONE window
    // definition so the plan pays a single shuffle + sort on custkey.
    // (o_orderdate, o_orderkey) totally orders each partition, so every
    // function is deterministic; percent_rank/cume_dist are ratios of
    // exact ints → bit-identical doubles in both engines.
    GraftQuery(
      "q41_window_suite",
      "ntile/percent_rank/cume_dist/first/nth_value over one customer window",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t.orders
          .select(
            col("o_custkey").as("custkey"),
            col("o_orderkey").as("orderkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            first(col("o_totalprice")).over(w).as("first_price"),
            nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
          .orderBy(col("custkey"), col("orderkey"))
      },
      Some(
        """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
          |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          |       percent_rank() OVER w AS pct_rank,
          |       cume_dist() OVER w AS cume,
          |       first_value(o_totalprice) OVER w AS first_price,
          |       nth_value(o_totalprice, 2) OVER w AS second_price
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY custkey, orderkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q42: time-series densification + forward fill — the gap-filling
    // step dashboards and feature pipelines need before charting or
    // windowing a sparse series. Per event_type: generate the full
    // hourly calendar between the series' own bounds (sequence() — a
    // lambda fan-out, no join against a calendar table), left-join the
    // observed hourly counts, then forward-fill gaps with
    // last_value(IGNORE NULLS) over an unbounded-preceding frame.
    // Bounds come from the same single aggregate pass that feeds the
    // calendar, so the plan is: one agg shuffle + explode + one window
    // shuffle. Counts are exact ints; the fill is deterministic because
    // hour is unique per type.
    GraftQuery(
      "q42_gap_fill_series",
      "hourly calendar densification + forward-filled counts per event_type",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val hourly = t.events
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"))
        val calendar = hourly
          .groupBy(col("event_type"))
          .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
              .as("hour"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("hour"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        calendar
          .join(hourly, Seq("event_type", "hour"), "left")
          .select(col("event_type"), col("hour"),
            when(col("cnt").isNull, lit(1L)).otherwise(lit(0L)).as("is_gap"),
            last(col("cnt"), ignoreNulls = true).over(w).as("cnt_filled"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
          |  FROM events GROUP BY 1, 2),
          |cal AS (
          |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          |  FROM (SELECT event_type, min(hour) AS h0, max(hour) AS h1
          |        FROM hourly GROUP BY event_type)),
          |j AS (
          |  SELECT c.event_type, c.hour, h.cnt
          |  FROM cal c LEFT JOIN hourly h USING (event_type, hour))
          |SELECT event_type, hour,
          |       CAST(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
          |       CAST(last_value(cnt IGNORE NULLS) OVER (
          |         PARTITION BY event_type ORDER BY hour
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |         AS cnt_filled
          |FROM j
          |ORDER BY event_type, hour""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q43: data-quality audit — the dbt-test/Deequ-style constraint
    // sweep a warehouse runs before publishing: null keys, duplicate
    // primary keys, foreign-key orphans, and domain violations, all as
    // ONE result set of (check_name, n_violations). The driver data is
    // clean, so the audit runs over a corpus with DETERMINISTICALLY
    // planted corruption (the dedup-family convention): nulled keys,
    // +100 quantities, unresolvable FK keys, duplicated PKs — each class
    // keyed by a distinct prime so the expected counts are independent.
    // Plan shape: one conditional-aggregate pass per TABLE (null/range
    // checks share a scan via sum(when(...))), duplicate PKs as a
    // count-filter aggregate, orphans as null-safe left-anti joins; the
    // single-row check results cross-join for free. At 100 TB each
    // check stays a scan-bounded aggregate — adding checks does not
    // multiply passes.
    GraftQuery(
      "q43_data_quality_audit",
      "null/dup-PK/FK-orphan/range violations over a planted-corruption corpus",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val li0 = t.lineitem.select(col("l_orderkey"), col("l_quantity"))
        val li = li0
          .unionByName(li0.filter(pmod(col("l_orderkey"), lit(191)) === 0)
            .withColumn("l_orderkey", lit(null).cast("long")))
          .unionByName(li0.filter(pmod(col("l_orderkey"), lit(193)) === 0)
            .withColumn("l_quantity", col("l_quantity") + 100))
          .unionByName(li0.filter(pmod(col("l_orderkey"), lit(197)) === 0)
            .withColumn("l_orderkey", -(col("l_orderkey") + 1000000000L)))
        val ord0 = t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val ord = ord0
          .unionByName(ord0.filter(pmod(col("o_orderkey"), lit(199)) === 0)) // dup PK
          .unionByName(ord0.filter(pmod(col("o_orderkey"), lit(211)) === 0)  // FK orphan
            .withColumn("o_orderkey", -(col("o_orderkey") + 1L))
            .withColumn("o_custkey", -(col("o_custkey") + 1000000000L)))
        val liChecks = li.agg(
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("li_null_orderkey"),
          sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("li_qty_out_of_range"))
        val dupPk = ord.groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .agg(count(lit(1)).as("ord_duplicate_pk"))
        val liOrphans = li.select(col("l_orderkey"))
          .filter(col("l_orderkey").isNotNull)
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("li_orphan_orderkey"))
        val ordOrphans = ord.select(col("o_custkey"))
          .filter(col("o_custkey").isNotNull)
          .join(t.customer.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("ord_orphan_custkey"))
        val wide = liChecks.crossJoin(dupPk).crossJoin(liOrphans).crossJoin(ordOrphans)
        val names = Seq("li_null_orderkey", "li_qty_out_of_range",
          "ord_duplicate_pk", "li_orphan_orderkey", "ord_orphan_custkey")
        wide.select(posexplode(array(names.map(col): _*)))
          .select(element_at(lit(names.toArray), col("pos").cast("int") + 1).as("check_name"),
            col("col").as("n_violations"))
          .orderBy(col("check_name"))
      },
      Some(
        """WITH li AS (
          |  SELECT l_orderkey, l_quantity FROM lineitem
          |  UNION ALL
          |  SELECT NULL, l_quantity FROM lineitem WHERE l_orderkey % 191 = 0
          |  UNION ALL
          |  SELECT l_orderkey, l_quantity + 100 FROM lineitem WHERE l_orderkey % 193 = 0
          |  UNION ALL
          |  SELECT -(l_orderkey + 1000000000), l_quantity FROM lineitem WHERE l_orderkey % 197 = 0),
          |ord AS (
          |  SELECT o_orderkey, o_custkey FROM orders
          |  UNION ALL
          |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 199 = 0
          |  UNION ALL
          |  SELECT -(o_orderkey + 1), -(o_custkey + 1000000000) FROM orders WHERE o_orderkey % 211 = 0),
          |lic AS (
          |  SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS li_null_orderkey,
          |         CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS li_qty_out_of_range
          |  FROM li),
          |dup AS (
          |  SELECT CAST(count(*) AS BIGINT) AS ord_duplicate_pk
          |  FROM (SELECT o_orderkey FROM ord GROUP BY o_orderkey HAVING count(*) > 1)),
          |liorph AS (
          |  SELECT CAST(count(*) AS BIGINT) AS li_orphan_orderkey
          |  FROM li WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN (SELECT o_orderkey FROM ord)),
          |ordorph AS (
          |  SELECT CAST(count(*) AS BIGINT) AS ord_orphan_custkey
          |  FROM ord WHERE o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT c_custkey FROM customer))
          |SELECT u.check_name, u.n_violations
          |FROM lic, dup, liorph, ordorph,
          |     LATERAL (VALUES
          |       ('li_null_orderkey', li_null_orderkey),
          |       ('li_qty_out_of_range', li_qty_out_of_range),
          |       ('ord_duplicate_pk', ord_duplicate_pk),
          |       ('li_orphan_orderkey', li_orphan_orderkey),
          |       ('ord_orphan_custkey', ord_orphan_custkey)) AS u(check_name, n_violations)
          |ORDER BY check_name""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q46: deterministic per-group sampling — "k docs per language" for
    // eval sets / human review / distillation inputs. The sample key is
    // md5(doc_id): content-independent, engine-portable, and STABLE
    // under corpus appends (a doc keeps its key, so re-sampling after
    // ingest only swaps members where a new key lands in the top-k —
    // the same stability argument as t07's hash split). Selection = the
    // k largest keys per group via the GroupedTopK bounded-heap
    // aggregate (q26's operator): at most k rows per (group, partition)
    // survive the partial aggregate, so a 100 TB corpus shuffles
    // k·partitions rows per language instead of window-sorting every
    // row — sampling must never cost a total sort. Fixed-width
    // lowercase-hex prefixes compare identically as strings (oracle) and
    // as parsed numerics (48 bits < 2^53, exact in a double score).
    GraftQuery(
      "q46_group_sample",
      "deterministic 5-per-language document sample via bounded-heap top-k on md5(doc_id)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val topk = graft.functions.expressions.GroupedTopK.topK(5)
        t.documents
          .select(col("lang"), col("doc_id"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
              .cast("double").as("score"))
          .groupBy(col("lang"))
          .agg(topk(col("score"), col("doc_id")).as("topk"))
          .select(col("lang"), posexplode(col("topk")))
          .select(col("lang"),
            (col("pos") + 1).cast("long").as("rk"),
            col("col").getField("id").as("doc_id"))
          .orderBy(col("lang"), col("rk"))
      },
      Some(
        """WITH s AS (
          |  SELECT lang, doc_id,
          |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS hk
          |  FROM documents),
          |rk AS (
          |  SELECT lang, doc_id,
          |         row_number() OVER (PARTITION BY lang
          |                            ORDER BY hk DESC, doc_id) AS rk
          |  FROM s)
          |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
          |FROM rk WHERE rk <= 5
          |ORDER BY lang, rk""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q47: column profiling — the stats sweep a warehouse publishes next
    // to every table (and an optimizer feeds into cardinality
    // estimates): per-column row/null/distinct counts, min/max, plus an
    // equi-width histogram of l_quantity. ONE aggregate over one scan;
    // the three count(DISTINCT)s share it through Catalyst's Expand
    // (rows ×4 map-side — the standard multi-distinct plan; at 100 TB
    // swap exact distinct for q22's HLL sketch, same single-scan shape).
    // Histogram buckets are integer arithmetic on integral doubles
    // (quantity ∈ 1..50 → floor((q-1)/5) capped to 0..9) and min/max
    // return STORED values — every output cell is exact, so the whole
    // profile hash-compares as (column_name, stat, value). The q43
    // posexplode pivot turns the one-row aggregate into the long-form
    // result for free.
    GraftQuery(
      "q47_column_profile",
      "per-column null/distinct/min/max profile + equi-width histogram, one scan",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val buckets = (0 to 9).map(b =>
          sum(when(least(floor((col("l_quantity") - 1) / 5), lit(9.0)) === b, 1L)
            .otherwise(0L)).cast("double").as(s"l_quantity|hist_bucket_$b"))
        val stats = Seq(
          count(lit(1)).cast("double").as("l_quantity|n_rows"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).cast("double")
            .as("l_quantity|n_null"),
          countDistinct(col("l_quantity")).cast("double").as("l_quantity|n_distinct"),
          min(col("l_quantity")).as("l_quantity|min"),
          max(col("l_quantity")).as("l_quantity|max"),
          countDistinct(col("l_discount")).cast("double").as("l_discount|n_distinct"),
          min(col("l_discount")).as("l_discount|min"),
          max(col("l_discount")).as("l_discount|max"),
          countDistinct(col("l_returnflag")).cast("double").as("l_returnflag|n_distinct"))
        val wide = t.lineitem.agg(stats.head, (stats.tail ++ buckets): _*)
        val names = wide.columns.toSeq
        wide.select(posexplode(array(names.map(col): _*)))
          .select(
            split(element_at(lit(names.toArray), col("pos").cast("int") + 1), "\\|")
              .as("parts"),
            col("col").as("value"))
          .select(element_at(col("parts"), 1).as("column_name"),
            element_at(col("parts"), 2).as("stat"), col("value"))
          .orderBy(col("column_name"), col("stat"))
      },
      Some(
        """WITH w AS (
          |  SELECT CAST(count(*) AS DOUBLE) AS q_n_rows,
          |         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS q_n_null,
          |         CAST(count(DISTINCT l_quantity) AS DOUBLE) AS q_n_distinct,
          |         min(l_quantity) AS q_min, max(l_quantity) AS q_max,
          |         CAST(count(DISTINCT l_discount) AS DOUBLE) AS d_n_distinct,
          |         min(l_discount) AS d_min, max(l_discount) AS d_max,
          |         CAST(count(DISTINCT l_returnflag) AS DOUBLE) AS r_n_distinct,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS h0,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS h1,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS h2,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS h3,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS h4,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 5 THEN 1 ELSE 0 END) AS DOUBLE) AS h5,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 6 THEN 1 ELSE 0 END) AS DOUBLE) AS h6,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 7 THEN 1 ELSE 0 END) AS DOUBLE) AS h7,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 8 THEN 1 ELSE 0 END) AS DOUBLE) AS h8,
          |         CAST(sum(CASE WHEN least(floor((l_quantity - 1) / 5), 9) = 9 THEN 1 ELSE 0 END) AS DOUBLE) AS h9
          |  FROM lineitem)
          |SELECT u.column_name, u.stat, u.value
          |FROM w, LATERAL (VALUES
          |  ('l_quantity', 'n_rows', q_n_rows),
          |  ('l_quantity', 'n_null', q_n_null),
          |  ('l_quantity', 'n_distinct', q_n_distinct),
          |  ('l_quantity', 'min', q_min),
          |  ('l_quantity', 'max', q_max),
          |  ('l_quantity', 'hist_bucket_0', h0),
          |  ('l_quantity', 'hist_bucket_1', h1),
          |  ('l_quantity', 'hist_bucket_2', h2),
          |  ('l_quantity', 'hist_bucket_3', h3),
          |  ('l_quantity', 'hist_bucket_4', h4),
          |  ('l_quantity', 'hist_bucket_5', h5),
          |  ('l_quantity', 'hist_bucket_6', h6),
          |  ('l_quantity', 'hist_bucket_7', h7),
          |  ('l_quantity', 'hist_bucket_8', h8),
          |  ('l_quantity', 'hist_bucket_9', h9),
          |  ('l_discount', 'n_distinct', d_n_distinct),
          |  ('l_discount', 'min', d_min),
          |  ('l_discount', 'max', d_max),
          |  ('l_returnflag', 'n_distinct', r_n_distinct)) AS u(column_name, stat, value)
          |ORDER BY column_name, stat""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q49: FULL OUTER join — the reconciliation idiom (the one join type
    // the catalog had not demonstrated). Daily order counts vs daily
    // shipment counts: shipments lag orders, so both sides carry
    // exclusive days (order days with no shipping activity, shipping
    // days past the last order) plus the matched bulk — all three null
    // patterns exercised. The join keys are low-cardinality dates, so
    // both grouped sides are small: at 100 TB the pre-aggregation
    // happens BEFORE the join (two map-side-combining aggs), and the
    // full-outer join itself moves only per-day rows.
    GraftQuery(
      "q49_full_outer_reconcile",
      "daily orders vs shipments reconciliation via FULL OUTER join with status classification",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val o = t.orders
          .groupBy(to_date(col("o_orderdate")).as("d"))
          .agg(count(lit(1)).as("n_orders"))
        val l = t.lineitem
          .groupBy(to_date(col("l_shipdate")).as("d"))
          .agg(count(lit(1)).as("n_shipments"))
        // full-outer cannot broadcast; prefer a shuffled-hash join over
        // sort-merge — both sides are already tiny per-day aggregates,
        // and hashing the smaller side beats sorting both at any scale
        o.hint("shuffle_hash").join(l, Seq("d"), "full_outer")
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("day"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_shipments"), lit(0L)).as("n_shipments"),
            when(col("n_orders").isNull, "ship_only")
              .when(col("n_shipments").isNull, "order_only")
              .otherwise("both").as("status"))
          .orderBy(col("day"))
      },
      Some(
        """WITH o AS (
          |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
          |  FROM orders GROUP BY 1),
          |l AS (
          |  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_shipments
          |  FROM lineitem GROUP BY 1)
          |SELECT strftime(coalesce(o.d, l.d), '%Y-%m-%d') AS day,
          |       coalesce(o.n_orders, 0) AS n_orders,
          |       coalesce(l.n_shipments, 0) AS n_shipments,
          |       CASE WHEN o.d IS NULL THEN 'ship_only'
          |            WHEN l.d IS NULL THEN 'order_only'
          |            ELSE 'both' END AS status
          |FROM o FULL JOIN l ON o.d = l.d
          |ORDER BY day""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q51: nested data — the catalog's array<struct> demonstration. The
    // fact is reshaped into one row per order holding a SORTED array of
    // line-item structs (the layout a Parquet-native event log or a
    // document store ships), then every per-order stat is derived with
    // higher-order functions (aggregate / filter / transform) over the
    // array — lambda work is NARROW (no explode-regroup round trip, no
    // second shuffle): one collect_list shuffle builds the nest and
    // everything after is per-row. array_sort on the struct (first
    // field l_linenumber) makes the array order deterministic, so
    // element_at(1) is the min-linenumber item. Money stays in integer
    // cents (floor per item BEFORE the array-sum — the t12 rule), so the
    // HOF aggregate is order-independent and the whole reshape carries a
    // full oracle computed flat from lineitem. At 100 TB the nested
    // write is the point: co-locating an order's items in one row makes
    // per-order scans shuffle-free forever after.
    GraftQuery(
      "q51_nested_order_items",
      "nest lineitem per order into array<struct>; per-order stats via higher-order functions",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val nested = t.lineitem
          .select(col("l_orderkey"),
            struct(
              col("l_linenumber").as("ln"),
              col("l_quantity").cast("long").as("qty"),
              floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
                .cast("long").as("rev_cents"),
              (col("l_discount") > 0).as("discounted")).as("item"))
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_list(col("item"))).as("items"))
        nested.select(
            col("l_orderkey"),
            size(col("items")).cast("long").as("n_items"),
            aggregate(col("items"), lit(0L), (acc, x) => acc + x.getField("qty"))
              .as("total_qty"),
            aggregate(col("items"), lit(0L), (acc, x) => acc + x.getField("rev_cents"))
              .as("revenue_cents"),
            size(filter(col("items"), x => x.getField("discounted"))).cast("long")
              .as("n_discounted"),
            array_max(transform(col("items"), x => x.getField("rev_cents")))
              .as("max_item_cents"),
            element_at(col("items"), 1).getField("ln").cast("long").as("first_ln"))
          .orderBy(col("l_orderkey"))
      },
      Some(
        """SELECT l_orderkey,
          |       count(*) AS n_items,
          |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
          |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS revenue_cents,
          |       CAST(count(CASE WHEN l_discount > 0 THEN 1 END) AS BIGINT)
          |         AS n_discounted,
          |       max(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
          |                AS BIGINT)) AS max_item_cents,
          |       CAST(min(l_linenumber) AS BIGINT) AS first_ln
          |FROM lineitem
          |GROUP BY l_orderkey
          |ORDER BY l_orderkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q57: unpivot (melt) — the inverse of q12: the wide quarter ×
    // returnflag matrix back to long (quarter, flag, cnt) rows via the
    // native `unpivot` operator (Catalyst Expand node — each wide row
    // fans out to |values| long rows in-place, no shuffle beyond the
    // pivot's own aggregation). Wide-to-long is the serving→analysis
    // reshape (a dashboard matrix back into a groupable fact), and
    // round-tripping q12's exact output proves the two operators are
    // true inverses.
    GraftQuery(
      "q57_unpivot",
      "melt q12's wide quarter × returnflag matrix back to long (quarter, flag, cnt) rows",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val wide = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(quarterLabel(col("o_orderdate")).as("quarter"), col("l_returnflag"))
          .groupBy(col("quarter"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(cnt)
          .na.fill(0L)
        wide.unpivot(
            ids = Array(col("quarter")),
            values = Array(col("A"), col("N"), col("R")),
            variableColumnName = "l_returnflag",
            valueColumnName = "cnt")
          .orderBy(col("quarter"), col("l_returnflag"))
      },
      Some(
        // densified like the unpivot output: a (quarter, flag) cell the
        // data never produced still exists as an explicit 0 row
        """WITH base AS (
          |  SELECT 'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
          |         l_returnflag, count(*) AS cnt
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2)
          |SELECT q.quarter, f.l_returnflag,
          |       CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt
          |FROM (SELECT DISTINCT quarter FROM base) q
          |CROSS JOIN (VALUES ('A'), ('N'), ('R')) f(l_returnflag)
          |LEFT JOIN base b
          |  ON b.quarter = q.quarter AND b.l_returnflag = f.l_returnflag
          |ORDER BY q.quarter, f.l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q55: sort-on-write data skipping — the INTRA-file complement to
    // q38's directory-level partition pruning. The layout range-
    // partitions and sorts lineitem by l_shipdate, so every parquet row
    // group covers a narrow date span and a one-week slice predicate
    // skips almost all of them via min/max statistics (plus whole files
    // via the range partitioning). At 100 TB the two compose: partition
    // by coarse time, sort by fine time within — the standard warehouse
    // clustering discipline. Layout must never change results → the
    // oracle is the same slice over the raw table; WritersSpec measures
    // scan-output rows vs a shuffled layout of the same data (the
    // skipped-bytes evidence).
    GraftQuery(
      "q55_sorted_layout_skipping",
      "one-week shipdate slice over the sorted-by-shipdate layout (row-group skipping)",
      (spark, dir) => sortedLayoutSlice(spark, dir),
      Some(
        """SELECT l_returnflag, count(*) AS cnt,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          |FROM lineitem
          |WHERE l_shipdate >= DATE '1995-06-01' AND l_shipdate < DATE '1995-06-08'
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q56: mergeable-sketch rollup — the two-level distinct-count
    // pattern a 100 TB warehouse actually runs: per-day HLL sketches
    // (Apache DataSketches via hll_sketch_agg) materialize ONCE, and
    // any coarser rollup (here monthly) UNIONS the sketches instead of
    // re-scanning the raw events — re-aggregable where q22's plain
    // approx_count_distinct is not. The DataSketches HLL binary (and
    // hence its estimate) is engine-specific, so — as q22 — the FULL
    // oracle verifies the estimator's error-bound contract instead of
    // its registers: the output carries each month's exact distinct
    // count plus a flag that the UNION-OF-DAILY-SKETCHES estimate
    // landed within the documented 5% bound; DuckDB replays exact +
    // literal true. The sketch path (daily materialize → monthly
    // union) is still what executes; a register-merge bug surfaces as
    // a flipped flag → hash mismatch (round-13 verdict item 7).
    // CoreOperatorsSpec additionally bounds the raw estimates.
    GraftQuery(
      "q56_sketch_rollup",
      "per-day HLL user sketches unioned into monthly estimates, error-bound-checked vs exact",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val daily = t.events
          .groupBy(to_date(col("ts")).as("d"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count(lit(1)).as("n_events"))
        val monthly = daily
          .groupBy(date_format(col("d"), "yyyy-MM").as("month"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
            sum(col("n_events")).as("n_events"))
        val exact = t.events
          .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        monthly.join(exact, Seq("month"))
          .select(col("month"), col("n_events"), col("exact_users"),
            when(abs(col("approx_users") - col("exact_users"))
              <= col("exact_users") * 0.05, 1L).otherwise(0L)
              .as("est_within_5pct"))
          .orderBy(col("month"))
      },
      Some(
        """SELECT strftime(ts, '%Y-%m') AS month,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
          |       CAST(1 AS BIGINT) AS est_within_5pct
          |FROM events
          |GROUP BY 1
          |ORDER BY 1""".stripMargin),
      // the benched plan is the PRODUCTION rollup alone — daily sketch
      // materialize + monthly register union — without the exact twin
      // the oracle side uses to check the error bound (round-13 verdict
      // item 4: the entry's point is re-aggregability, and its bench
      // number should price exactly that path)
      benchRun = Some((spark, dir) => {
        val t = Tables(spark, dir)
        t.events
          .groupBy(to_date(col("ts")).as("d"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count(lit(1)).as("n_events"))
          .groupBy(date_format(col("d"), "yyyy-MM").as("month"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
            sum(col("n_events")).as("n_events"))
          .orderBy(col("month"))
      })
    ),

    // ------------------------------------------------------------------
    // q53: observed metrics — pipeline-health counters collected ON THE
    // SIDE of a real aggregation with `observe()`: the scan that feeds
    // the revenue rollup also emits row/volume/quality counters through
    // the plan's CollectMetrics node, with NO second pass over the data
    // (at 100 TB a separate profiling query doubles the scan bill; the
    // ETL-health dashboard should ride the job that is already running).
    // The observation does not change the query result → the oracle is
    // the plain aggregation; CoreOperatorsSpec asserts the collected
    // metrics equal an independent recompute.
    GraftQuery(
      "q53_observed_metrics",
      "returnflag revenue rollup with observe() health counters riding the same scan",
      (spark, dir) => observedRevenueAgg(spark, dir)._1,
      Some(
        """SELECT l_returnflag, count(*) AS n_rows,
          |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q58: Z-ORDER multi-dimensional clustering — what q55's single-key
    // sort cannot do: serve selective range predicates on TWO
    // independent keys from one layout. lineitem is rewritten sorted by
    // the Morton interleave of (l_partkey, l_suppkey)
    // (WarehouseLayout.mortonZ — 5 bitwise shift-or-mask steps, pure
    // codegen, no UDF), so every parquet row group covers a compact
    // rectangle in key space and min/max stats skip on EITHER key.
    // Layout never changes results → the oracle is the same slice over
    // raw lineitem; WritersSpec measures scan-output rows on BOTH key
    // dimensions against a single-key-sorted control (which serves only
    // its own sort key).
    GraftQuery(
      "q58_zorder_layout_skipping",
      "part-range slice over the (partkey,suppkey) z-ordered layout (two-dimensional skipping)",
      (spark, dir) => zorderLayoutSlice(spark, dir),
      Some(
        """SELECT l_suppkey, count(*) AS cnt,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          |FROM lineitem
          |WHERE l_partkey BETWEEN 40 AND 80
          |GROUP BY l_suppkey
          |ORDER BY l_suppkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q59: exact integer co-moments — correlation/covariance computed as
    // ONE partial-aggregating scan of five integer sums per group (n,
    // Σq, Σq², Σp, Σpp, Σqp). Floating `corr()` is run-order-dependent
    // on a cluster (doubles don't associate); the integer moments are
    // exact, order-independent, MERGEABLE (a rollup over groups just
    // adds them — the q56 materialize-once pattern for second-order
    // stats), and Pearson r derives losslessly downstream. Price is
    // floored to whole dollars so Σp² at 100 TB (~6×10⁸ rows × 10¹⁰)
    // stays inside BIGINT; past that the same sums shift to DECIMAL(38)
    // unchanged. CoreOperatorsSpec derives r from the moments and
    // matches Spark's own corr() to 1e-9.
    GraftQuery(
      "q59_integer_moments",
      "exact mergeable integer co-moments of (quantity, price-dollars) per returnflag",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("q"),
            floor(col("l_extendedprice")).cast("long").as("p"))
          .groupBy(col("l_returnflag"))
          .agg(cnt.as("n"),
            sum(col("q")).as("sum_q"),
            sum(col("q") * col("q")).as("sum_qq"),
            sum(col("p")).as("sum_p"),
            sum(col("p") * col("p")).as("sum_pp"),
            sum(col("q") * col("p")).as("sum_qp"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """WITH b AS (
          |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
          |         CAST(floor(l_extendedprice) AS BIGINT) AS p
          |  FROM lineitem)
          |SELECT l_returnflag, count(*) AS n,
          |       CAST(sum(q) AS BIGINT) AS sum_q,
          |       CAST(sum(q * q) AS BIGINT) AS sum_qq,
          |       CAST(sum(p) AS BIGINT) AS sum_p,
          |       CAST(sum(p * p) AS BIGINT) AS sum_pp,
          |       CAST(sum(q * p) AS BIGINT) AS sum_qp
          |FROM b
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q60: point-in-time (temporal) join — the lookup every historical
    // dimension exists FOR: each fact row joined to the q39 SCD2 version
    // in effect at the fact's own date (valid_from <= d < valid_to,
    // open-ended current version). Both sides single-sourced: the
    // dimension is scd2Dimension (q39's builder), so q39's semantics and
    // this probe can never drift apart. Scale shape: an EQUI-join on
    // custkey with the interval test as a cheap post-filter — per-key
    // version lists are tiny (bounded by a customer's priority changes),
    // so this never becomes a range-join blowup; the versions tile each
    // customer's timeline, so every fact matches EXACTLY one version
    // (row preservation asserted in spec). Same-date multi-order edges
    // resolve deterministically: an empty [d, d) version matches
    // nothing, the same-date successor wins — which is what makes
    // n_mismatched (order's own priority vs the version in effect)
    // nonzero and interesting. String yyyy-MM-dd compares are
    // chronological, matching q39's emitted dtype-strict dates.
    GraftQuery(
      "q60_scd2_point_in_time",
      "orders joined to the SCD2 priority version in effect at order date (temporal lookup)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val dim = scd2Dimension(spark, dir)
        val probe = t.orders.select(col("o_custkey"), col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
          floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
        probe.join(dim,
            probe("o_custkey") === dim("custkey") &&
              col("od") >= col("valid_from") &&
              (col("valid_to").isNull || col("od") < col("valid_to")))
          .groupBy(col("priority"))
          .agg(cnt.as("n_orders"),
            sum(when(col("o_orderpriority") =!= col("priority"), 1L).otherwise(0L))
              .as("n_mismatched"),
            sum(col("price_cents")).as("sum_price_cents"))
          .orderBy(col("priority"))
      },
      Some(
        """WITH ch AS (
          |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
          |         lag(o_orderpriority) OVER w AS prev
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
          |v AS (
          |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
          |  FROM ch WHERE prev IS NULL OR prev <> o_orderpriority),
          |dim AS (
          |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
          |         strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
          |         strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d') AS valid_to
          |  FROM v
          |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
          |probe AS (
          |  SELECT o_custkey, o_orderpriority,
          |         strftime(o_orderdate, '%Y-%m-%d') AS od,
          |         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
          |  FROM orders)
          |SELECT d.priority, count(*) AS n_orders,
          |       CAST(sum(CASE WHEN p.o_orderpriority <> d.priority THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_mismatched,
          |       CAST(sum(p.price_cents) AS BIGINT) AS sum_price_cents
          |FROM probe p JOIN dim d
          |  ON p.o_custkey = d.custkey
          | AND p.od >= d.valid_from
          | AND (d.valid_to IS NULL OR p.od < d.valid_to)
          |GROUP BY d.priority
          |ORDER BY d.priority""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q61: bucketed fact-fact join — the write-once/join-forever layout.
    // orders and lineitem are written ONCE per (JVM, dataset) as
    // 8-bucket tables on the order key (WarehouseLayout.bucketedFactTables);
    // this entry then joins them with ZERO Exchange on either join input:
    // both scans report the matching hash partitioning, so the sort-merge
    // join consumes them in place (PlanShapeSpec asserts no
    // hashpartitioning exchange on either key, and — because each bucket
    // is one pre-sorted file — no per-bucket re-sort either). The
    // isolated session turns broadcast off: at 100 TB BOTH sides are
    // facts and the entire point is that the one unavoidable shuffle was
    // paid at write time, amortized over every later join on that key.
    // The oracle is the plain join on the raw tables — a serving layout
    // must never change results, only cost. Revenue is floored to cents
    // per row before summing (the q44 exactness discipline).
    GraftQuery(
      "q61_bucketed_fact_join",
      "orders⋈lineitem over pre-bucketed tables: shuffle-free fact-fact join (oracle = plain join)",
      (spark, dir) => {
        bucketedFactJoin(spark, dir)
          .groupBy(col("o_orderstatus"))
          .agg(cnt.as("cnt"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
              .cast("long")).as("revenue_cents"))
          .orderBy(col("o_orderstatus"))
      },
      Some(
        """SELECT o_orderstatus, count(*) AS cnt,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
          |                     AS BIGINT)) AS BIGINT) AS revenue_cents
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q62: EQUI-DEPTH z-order — q58's layout family on a SKEWED key.
    // events is rewritten z-ordered by (quantile bucket of `value`,
    // user_id): the 64 equi-depth buckets each hold ~1/64 of the rows
    // by construction (equi-width scaling measures 6× ideal occupancy
    // on this value distribution — WritersSpec), so every z-cell's
    // mass is bounded no matter the skew — the property that keeps
    // file sizes and row-group spans uniform at 100 TB. Layout never
    // changes results → the oracle is the same slice over raw events;
    // sums travel as floored integer micros (the compaction-entry
    // discipline) so the hash compare is exact.
    GraftQuery(
      "q62_zorder_equidepth_skipping",
      "value-range slice over the equi-depth (value,user_id) z-ordered events layout",
      (spark, dir) => equiDepthZorderSlice(spark, dir),
      Some(
        """SELECT event_type, count(*) AS cnt,
          |       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
          |         AS value_micros
          |FROM events
          |WHERE value BETWEEN 30.0 AND 60.0
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q63: MERGEABLE quantile sketch — the q56 materialize-once/
    // rollup-anywhere pattern for ORDER STATISTICS, and fully oracled
    // where q56's HLL is engine-opaque. The sketch is a fixed-bin
    // integer histogram of price cents (bin = cents div 2^16, a
    // DATA-INDEPENDENT spec, so sketches from different datasets, days,
    // or clusters merge by adding counts — exactly what t-digest gives
    // approximately, here exact-to-the-bin): build ONCE at fine
    // granularity (returnflag × linestatus × ship year — one
    // partial-agg shuffle of ≤ groups×256 sketch rows), then answer
    // p50/p90/p99 at ANY coarser grouping by summing bins — the rollup
    // touches sketch rows only, never the fact table again. Quantile =
    // the lower edge of the first bin whose cumulative count reaches
    // ceil(q·n): integers end to end (the 2^16 divisor keeps even the
    // double formulation exact — division by a power of two never
    // rounds), so the DuckDB replay is hash-identical. Error ≤ one bin
    // width by construction (CoreOperatorsSpec pins it against exact
    // percentiles). At 100 TB: the fine sketch is a few thousand rows
    // per day — store THAT, and every later quantile query at any
    // rollup level is a metadata-scale aggregation.
    GraftQuery(
      "q63_quantile_sketch_rollup",
      "fixed-bin integer histogram sketches rolled up to returnflag p50/p90/p99 price quantiles",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val binW = 65536L // cents per bin (2^16: exact under double division too)
        val nBins = 256L
        val cents = floor(col("l_extendedprice") * 100).cast("long")
        // materialize-once: the fine-granularity sketch
        val fine = t.lineitem
          .select(col("l_returnflag"), col("l_linestatus"),
            year(col("l_shipdate")).cast("long").as("ship_year"),
            least(lit(nBins - 1), floor(cents / lit(binW)).cast("long")).as("bin"))
          .groupBy(col("l_returnflag"), col("l_linestatus"), col("ship_year"),
            col("bin"))
          .agg(cnt.as("cnt"))
        // rollup-anywhere: merge sketches to returnflag granularity
        val merged = fine.groupBy(col("l_returnflag"), col("bin"))
          .agg(sum(col("cnt")).as("cnt"))
        val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("l_returnflag"))
        def qEdge(q: Double, name: String) =
          min(when(col("cum") >= ceil(col("n") * lit(q)), col("bin") * lit(binW)))
            .as(name)
        merged
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .withColumn("n", sum(col("cnt")).over(wAll))
          .groupBy(col("l_returnflag"))
          .agg(max(col("n")).as("n"),
            qEdge(0.5, "p50_lo_cents"), qEdge(0.9, "p90_lo_cents"),
            qEdge(0.99, "p99_lo_cents"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """WITH fine AS (
          |  SELECT l_returnflag, l_linestatus,
          |         CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          |         least(255, CAST(floor(l_extendedprice * 100) AS BIGINT) // 65536) AS bin,
          |         count(*) AS cnt
          |  FROM lineitem GROUP BY 1, 2, 3, 4),
          |merged AS (
          |  SELECT l_returnflag, bin, CAST(sum(cnt) AS BIGINT) AS cnt
          |  FROM fine GROUP BY 1, 2),
          |c AS (
          |  SELECT l_returnflag, bin, cnt,
          |         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
          |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
          |  FROM merged)
          |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
          |       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN bin * 65536 END) AS BIGINT) AS p50_lo_cents,
          |       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN bin * 65536 END) AS BIGINT) AS p90_lo_cents,
          |       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN bin * 65536 END) AS BIGINT) AS p99_lo_cents
          |FROM c
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q64: MERGEABLE count-min sketch — the q56/q63 materialize-once/
    // rollup-anywhere pattern for FREQUENCY estimation (heavy hitters),
    // fully oracled because the hash family is the engine-portable md5
    // prefix (the t04/s02/d04 discipline: both engines compute
    // md5('cms'||row||':'||key) identically). Sketch spec is
    // data-independent — d=4 rows × w=64 buckets — so sketches built per
    // event_type (or per day, per cluster) merge by ADDING counters;
    // CoreOperatorsSpec proves merged-equals-direct exactly. Build cost:
    // one partial-agg shuffle of 4× mapped rows collapsing to ≤ types×256
    // counter rows; the merged sketch is 256 rows → broadcast to the
    // probe join, so estimating any candidate set never reshuffles the
    // facts. est ≥ true for EVERY key (one-sided CMS guarantee, spec-
    // pinned). At 100 TB: store the per-day 256-row sketches and answer
    // "how often did key k appear in any date range" from counters alone.
    GraftQuery(
      "q64_heavy_hitters_cms",
      "count-min sketch built per event type, merged by counter adds, probed for top-20 heavy hitters",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = 64L
        def bucket(r: Column, key: Column): Column =
          conv(substring(md5(concat(lit("cms"), r.cast("string"), lit(":"),
            key.cast("string"))), 1, 8), 16, 10).cast("long") % w
        val hashRows = array((0 to 3).map(lit): _*)
        // materialize-once: one 256-counter sketch per event_type
        val fine = t.events
          .select(col("event_type"), col("user_id"))
          .withColumn("r", explode(hashRows))
          .withColumn("bucket", bucket(col("r"), col("user_id")))
          .groupBy(col("event_type"), col("r"), col("bucket"))
          .agg(cnt.as("cnt"))
        // rollup-anywhere: merge sketches by adding counters
        val merged = fine.groupBy(col("r"), col("bucket"))
          .agg(sum(col("cnt")).as("cnt"))
        // probe: est(key) = min over rows of the key's counter
        val keys = t.events.groupBy(col("user_id")).agg(cnt.as("true_cnt"))
        keys
          .withColumn("r", explode(hashRows))
          .withColumn("bucket", bucket(col("r"), col("user_id")))
          .join(merged, Seq("r", "bucket"))
          .groupBy(col("user_id"), col("true_cnt"))
          .agg(min(col("cnt")).as("est"))
          .select(col("user_id"), col("est"), col("true_cnt"),
            (col("est") - col("true_cnt")).as("overcount"))
          .orderBy(col("est").desc, col("user_id"))
          .limit(20)
      },
      Some(
        """WITH hrows AS (SELECT CAST(r AS BIGINT) AS r FROM range(0, 4) t(r)),
          |fine AS (
          |  SELECT event_type, r,
          |         CAST('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':'
          |              || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS bucket,
          |         count(*) AS cnt
          |  FROM events, hrows GROUP BY 1, 2, 3),
          |merged AS (
          |  SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
          |  FROM fine GROUP BY 1, 2),
          |keys AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY 1),
          |probe AS (
          |  SELECT k.user_id, k.true_cnt, h.r,
          |         CAST('0x' || substr(md5('cms' || CAST(h.r AS VARCHAR) || ':'
          |              || CAST(k.user_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS bucket
          |  FROM keys k, hrows h),
          |est AS (
          |  SELECT p.user_id, p.true_cnt, CAST(min(m.cnt) AS BIGINT) AS est
          |  FROM probe p JOIN merged m ON m.r = p.r AND m.bucket = p.bucket
          |  GROUP BY 1, 2)
          |SELECT user_id, est, true_cnt, est - true_cnt AS overcount
          |FROM est
          |ORDER BY est DESC, user_id
          |LIMIT 20""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q65: CDC MERGE apply — the warehouse upsert primitive (MERGE INTO /
    // "apply changes"): a deterministic I/U/D changeset is applied to the
    // customer snapshot in ONE full-outer join on the key. Changeset
    // derivation is itself relational (latest order per customer by
    // (o_orderdate, o_orderkey) desc → op U, key%10=7 → op D; synthetic
    // inserts keyed above the snapshot's key space from supplier).
    // Balances are integer cents end to end, so the oracle hash-matches.
    // At 100 TB: the snapshot lives bucketed by key (the q61 layout), so
    // the daily MERGE shuffles only the changeset — the snapshot side
    // joins in place; the full-outer shape is exactly what Delta/Iceberg
    // MERGE compiles to before file rewriting.
    GraftQuery(
      "q65_merge_upsert",
      "apply an insert/update/delete changeset onto the customer snapshot via one full-outer join",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val wLatest = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        val latest = t.orders
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_totalprice"))
          .withColumn("rn", row_number().over(wLatest))
          .filter(col("rn") === 1)
        val upserts = latest.select(
          col("o_custkey").as("k"),
          when(col("o_custkey") % 10 === 7, "D").otherwise("U").as("op"),
          floor(col("o_totalprice") * 100).cast("long").as("new_bal_cents"))
        val inserts = t.supplier.select(
          (col("s_suppkey") + lit(1000000L)).as("k"),
          lit("I").as("op"),
          floor(col("s_acctbal") * 100).cast("long").as("new_bal_cents"))
        val changes = upserts.unionByName(inserts)
        val snap = t.customer.select(
          col("c_custkey").as("k"), col("c_name"),
          floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        snap.join(changes, Seq("k"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(
            col("k").as("custkey"),
            coalesce(col("c_name"), concat(lit("NEW#"), col("k").cast("string")))
              .as("name"),
            when(col("op").isNotNull, col("new_bal_cents"))
              .otherwise(col("bal_cents")).as("bal_cents"),
            when(col("op").isNull, "kept")
              .when(col("op") === "U", "updated")
              .otherwise("inserted").as("merge_action"))
          .orderBy(col("custkey"))
      },
      Some(
        """WITH latest AS (
          |  SELECT o_custkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          |  FROM orders),
          |changes AS (
          |  SELECT o_custkey AS k,
          |         CASE WHEN o_custkey % 10 = 7 THEN 'D' ELSE 'U' END AS op,
          |         CAST(floor(o_totalprice * 100) AS BIGINT) AS new_bal_cents
          |  FROM latest WHERE rn = 1
          |  UNION ALL
          |  SELECT s_suppkey + 1000000 AS k, 'I' AS op,
          |         CAST(floor(s_acctbal * 100) AS BIGINT) AS new_bal_cents
          |  FROM supplier),
          |snap AS (
          |  SELECT c_custkey AS k, c_name,
          |         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
          |  FROM customer)
          |SELECT coalesce(s.k, c.k) AS custkey,
          |       coalesce(c_name, 'NEW#' || CAST(c.k AS VARCHAR)) AS name,
          |       CASE WHEN c.op IS NOT NULL THEN c.new_bal_cents
          |            ELSE s.bal_cents END AS bal_cents,
          |       CASE WHEN c.op IS NULL THEN 'kept'
          |            WHEN c.op = 'U' THEN 'updated'
          |            ELSE 'inserted' END AS merge_action
          |FROM snap s FULL OUTER JOIN changes c ON s.k = c.k
          |WHERE c.op IS NULL OR c.op <> 'D'
          |ORDER BY custkey""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q66: KMV (k-minimum-values) distinct sketch — the PORTABLE twin of
    // q56's HLL rollup. q22/q56 are rows-only forever because Spark's
    // DataSketches binaries are engine-opaque; KMV has no binary: the
    // sketch IS the set of the k smallest 52-bit md5-prefix hashes of
    // the keys, so it lives in plain columns, merges by
    // union-then-rebottom-k (bottom-k of per-month bottom-k's equals
    // bottom-k of the year exactly — any hash in the year's true
    // bottom-k is necessarily within its month's), and the estimator
    // (k-1)·2^52 div h_(k) (Bar-Yossef et al. 2002; Beyer et al.
    // SIGMOD'07 unbiased KMV) is INTEGER arithmetic end to end → the
    // DuckDB oracle hash-matches the whole two-level pipeline, estimate
    // included. Cost shape at 100 TB: BOTH bottom-k stages run on the
    // GroupedTopK bounded heap (score = the NEGATED hash — 52 bits is
    // exact in a double — so "top-k by score" is "k minimum hashes"):
    // at most k rows per (group, partition) survive each partial
    // aggregate, where a window-rank formulation would sort every
    // distinct hash of every month. The rollup touches sketch rows only
    // — never the fact table — exactly like q56/q63. Exact per-year
    // distincts ride alongside so the output exposes the real error.
    GraftQuery(
      "q66_kmv_distinct_rollup",
      "monthly k-minimum-values part sketches merged into yearly distinct estimates, fully oracled",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val k = 64
        val hashSpace = 4503599627370496L // 2^52: 13 hex chars of md5
        val topk = graft.functions.expressions.GroupedTopK.topK(k)
        val h = conv(substring(md5(col("l_partkey").cast("string")), 1, 13), 16, 10)
          .cast("long")
        val base = t.lineitem
          .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"),
            year(col("l_shipdate")).cast("long").as("ship_year"), h.as("h"))
          .distinct()
        // bottom-k per month via the bounded heap (negated-hash score)
        val monthSketch = base
          .groupBy(col("m"), col("ship_year"))
          .agg(topk((-col("h")).cast("double"), col("h")).as("sk"))
          .select(col("ship_year"), explode(col("sk")).as("e"))
          .select(col("ship_year"), col("e.id").as("h"))
        val pool = monthSketch.distinct()
        val yearSketch = pool
          .groupBy(col("ship_year"))
          .agg(topk((-col("h")).cast("double"), col("h")).as("sk"))
          .select(col("ship_year"), posexplode(col("sk")))
          .select(col("ship_year"), (col("pos") + 1).cast("long").as("rn"),
            col("col").getField("id").as("h"))
        val exact = t.lineitem
          .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
          .agg(count_distinct(col("l_partkey")).as("n_exact"))
        yearSketch
          .groupBy(col("ship_year"))
          .agg(cnt.as("kmv_size"),
            coalesce(max(when(col("rn") === k, col("h"))), lit(0L)).as("kth_hash"))
          .join(exact, "ship_year")
          .select(col("ship_year"), col("n_exact"), col("kmv_size"), col("kth_hash"),
            when(col("kmv_size") < k, col("kmv_size"))
              .otherwise(expr(s"${k - 1}L * ${hashSpace}L div kth_hash"))
              .as("est_distinct"))
          .orderBy(col("ship_year"))
      },
      Some(
        """WITH base AS (
          |  SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS m,
          |         CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          |         CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13) AS BIGINT) AS h
          |  FROM lineitem),
          |ms AS (
          |  SELECT m, ship_year, h,
          |         row_number() OVER (PARTITION BY m ORDER BY h) AS rn
          |  FROM base),
          |pool AS (SELECT DISTINCT ship_year, h FROM ms WHERE rn <= 64),
          |ys AS (
          |  SELECT ship_year, h,
          |         row_number() OVER (PARTITION BY ship_year ORDER BY h) AS rn
          |  FROM pool),
          |sk AS (
          |  SELECT ship_year, CAST(count(*) AS BIGINT) AS kmv_size,
          |         CAST(coalesce(max(CASE WHEN rn = 64 THEN h END), 0) AS BIGINT) AS kth_hash
          |  FROM ys WHERE rn <= 64 GROUP BY ship_year),
          |ex AS (
          |  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact
          |  FROM lineitem GROUP BY 1)
          |SELECT s.ship_year, e.n_exact, s.kmv_size, s.kth_hash,
          |       CAST(CASE WHEN s.kmv_size < 64 THEN s.kmv_size
          |            ELSE 63 * 4503599627370496 // s.kth_hash END AS BIGINT) AS est_distinct
          |FROM sk s JOIN ex e USING (ship_year)
          |ORDER BY s.ship_year""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q70: metadata-only aggregation — COUNT/MIN/MAX answered from
    // parquet FOOTER STATISTICS, zero data pages read (Spark's DSv2
    // aggregate pushdown: `PushedAggregation` in the scan). At 100 TB
    // this is the difference between a catalog-size and a corpus-size
    // query: row-group stats are ~KB per file and already maintained by
    // every writer, so "how many rows / what date range does this table
    // span" costs a footer walk, not a scan. The child session opts the
    // parquet read into the V2 path (pushdown is a DSv2 capability; V1
    // is Spark's default) and enables the pushdown flag; the oracle is
    // the plain full-scan aggregate — footer stats are EXACT for
    // count/min/max, so pushdown can never change a value.
    // PlanShapeSpec asserts PushedAggregation actually reached the scan.
    GraftQuery(
      "q70_stats_only_agg",
      "table-span stats (count, key and measure min/max) from parquet footers, zero data pages",
      (spark, dir) => {
        val s = spark.newSession()
        s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        s.conf.set("spark.sql.sources.useV1SourceList", "")
        val t = Tables(s, dir)
        // stats-pushable types only: the shipdate column is stored as
        // parquet TIMESTAMP (not DATE), a type Spark's footer pushdown
        // rejects — including it would silently abort the WHOLE
        // pushdown and fall back to a full scan (the PlanShapeSpec
        // guard exists exactly for that regression)
        t.lineitem
          .agg(
            count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_orderkey"),
            max(col("l_orderkey")).as("max_orderkey"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
          |       CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
          |       min(l_quantity) AS min_qty,
          |       max(l_quantity) AS max_qty
          |FROM lineitem""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q82: semi-structured VARIANT shredding — the Spark-4 answer to
    // schema-drifting payloads. Ingest parses the JSON envelope ONCE
    // into the binary variant encoding and lands it in parquet
    // (io/WarehouseLayout.eventsVariantLayout, built once per JVM);
    // the query then extracts typed paths with `variant_get` — an
    // offset walk over the binary form, not a text re-parse — and
    // aggregates. Contrast q21, where every `get_json_object` call
    // re-tokenizes the JSON string: at 100 TB with several extractions
    // per row that difference is the scan's CPU budget. The extraction
    // stays inside whole-stage codegen, and the oracle recomputes the
    // same aggregate from the raw typed columns the envelope was built
    // from — the variant path must be a no-op on VALUES.
    GraftQuery(
      "q82_variant_shred",
      "typed-path extraction over a VARIANT-in-parquet event envelope (parse once, extract many)",
      (spark, dir) => {
        val layout = graft.io.WarehouseLayout.eventsVariantLayout(spark, dir)
        spark.read.parquet(layout)
          .select(
            variant_get(col("v"), "$.t", "string").as("event_type"),
            variant_get(col("v"), "$.m.u", "long").as("user_id"),
            variant_get(col("v"), "$.m.k", "long").as("k"))
          .groupBy(col("event_type"))
          .agg(
            cnt.as("n_events"),
            sum(col("k")).as("sum_k"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
          |       count(DISTINCT user_id) AS n_users
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q83: LATERAL correlated subquery — per-nation top-2 customers by
    // balance, written the way SQL users write it (a correlated ORDER
    // BY ... LIMIT against each outer row). The value is what Catalyst
    // compiles it to: DecorrelateInnerQuery rewrites the lateral into a
    // plain equi-join against a row_number window, and the LIMIT
    // becomes a WindowGroupLimit that prunes each group to 2 rows in a
    // PARTIAL pass BEFORE the shuffle — so the executed plan is
    // broadcast-hash-join + rank-limit pushdown, never the per-outer-row
    // re-execution the SQL literally describes (quadratic at 100 TB).
    // PlanShapeSpec pins WindowGroupLimit present + no nested loop.
    // DuckDB runs the same lateral SQL text as the oracle.
    GraftQuery(
      "q83_lateral_topk",
      "correlated LATERAL (ORDER BY ... LIMIT 2) decorrelated to a rank-limit window join",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.nation.createOrReplaceTempView("q83_nation")
        t.customer.createOrReplaceTempView("q83_customer")
        spark.sql(
          """SELECT n_name, l.c_name, l.bal_cents
            |FROM q83_nation n,
            |LATERAL (SELECT c_name,
            |                CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
            |         FROM q83_customer c
            |         WHERE c.c_nationkey = n.n_nationkey
            |         ORDER BY bal_cents DESC, c_name
            |         LIMIT 2) l
            |ORDER BY n_name, bal_cents DESC, c_name""".stripMargin)
      },
      Some(
        """SELECT n_name, l.c_name, l.bal_cents
          |FROM nation n,
          |LATERAL (SELECT c_name,
          |                CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
          |         FROM customer c
          |         WHERE c.c_nationkey = n.n_nationkey
          |         ORDER BY bal_cents DESC, c_name
          |         LIMIT 2) l
          |ORDER BY n_name, bal_cents DESC, c_name""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q84: recursive CTE through the SQL surface — the parent-pointer
    // walk of g03's forest (custkey halving to roots ≤ 8) as WITH
    // RECURSIVE, which Spark 4 executes as an iterative UnionLoop: each
    // step joins the previous frontier only (delta iteration), stacking
    // results without recomputing settled rows. This is the SQL twin of
    // g03's pointer doubling and the scale contrast is the point:
    // recursion runs O(depth) rounds (one per level — fine here, depth
    // ≈ log2 custkey), pointer doubling runs O(log depth); for deep
    // hierarchies the custom iteration wins, for the common shallow
    // case the declarative form costs nothing extra. The depth guard
    // (< 64) bounds the loop the same way g04's oracle bounds its walk.
    // DuckDB runs the recursion independently (its own WITH RECURSIVE,
    // integer floor-div) as the oracle.
    GraftQuery(
      "q84_recursive_hierarchy",
      "WITH RECURSIVE parent-pointer walk (UnionLoop delta iteration) to roots and depths",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.customer.createOrReplaceTempView("q84_customer")
        spark.sql(
          """WITH RECURSIVE walk(node, cur, depth) AS (
            |  SELECT c_custkey, c_custkey, 0 FROM q84_customer
            |  UNION ALL
            |  SELECT node, cur DIV 2, depth + 1 FROM walk
            |  WHERE cur > 8 AND depth < 64)
            |SELECT node AS node_id, cur AS root_id,
            |       CAST(depth AS BIGINT) AS depth
            |FROM walk WHERE cur <= 8
            |ORDER BY node_id""".stripMargin)
      },
      Some(
        """WITH RECURSIVE walk(node, cur, depth) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM customer
          |  UNION ALL
          |  SELECT node, cur // 2, depth + 1 FROM walk
          |  WHERE cur > 8 AND depth < 64)
          |SELECT node AS node_id, cur AS root_id,
          |       CAST(depth AS BIGINT) AS depth
          |FROM walk WHERE cur <= 8
          |ORDER BY node_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q85: ordered-set aggregates — listagg WITHIN GROUP (the ordered
    // string fold SQL:2016 calls LISTAGG) and percentile_disc (the
    // discrete percentile that returns an ELEMENT of the set, not an
    // interpolation — deterministic on any domain, which is why it can
    // hash-match across engines where percentile_cont's float
    // interpolation could drift). DISTINCT + WITHIN GROUP ordering make
    // the listagg deterministic; the percentile operates on exact
    // integer cents. Plan: one hash aggregate pass for the count/sum
    // shapes plus a sort-based aggregate for the ordered ones — still
    // partial+final, still one shuffle on the group key. DuckDB's
    // string_agg(DISTINCT ... ORDER BY) and quantile_disc are the
    // independent formulations.
    //
    // Scale note: exact percentile buffers a value→count map per group
    // (memory ∝ DISTINCT values, merged map-side) — fine for bounded
    // domains, but price CENTS distincts grow with the corpus, so the
    // 100 TB path for percentiles on open domains is the sketch family
    // (q28/q63 approx_percentile/KLL) — this entry's point is the exact
    // SQL:2016 surface semantics, demonstrated where exactness is
    // affordable. (t28 uses the same aggregate SAFELY at any scale:
    // document lengths are a bounded domain.)
    GraftQuery(
      "q85_ordered_set_aggs",
      "listagg WITHIN GROUP + percentile_disc per order priority (ordered-set aggregates)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.orders.createOrReplaceTempView("q85_orders")
        // n_status is derived from the listagg OUTSIDE the aggregate:
        // pairing listagg(DISTINCT ...) WITHIN GROUP with a second
        // DISTINCT aggregate trips Spark 4.1.2's distinct-rewrite
        // (AttributeReference→SortOrder cast in RewriteDistinctAggregates)
        // — and the outer size(split(...)) is one less distinct expand
        // anyway.
        spark.sql(
          """SELECT o_orderpriority, statuses,
            |       CAST(size(split(statuses, ',')) AS BIGINT) AS n_status,
            |       med_cents, p90_cents
            |FROM (
            |  SELECT o_orderpriority,
            |         listagg(DISTINCT o_orderstatus, ',')
            |           WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
            |         CAST(percentile_disc(0.5) WITHIN GROUP
            |           (ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT))
            |           AS BIGINT) AS med_cents,
            |         CAST(percentile_disc(0.9) WITHIN GROUP
            |           (ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT))
            |           AS BIGINT) AS p90_cents
            |  FROM q85_orders
            |  GROUP BY o_orderpriority)
            |ORDER BY o_orderpriority""".stripMargin)
      },
      Some(
        """SELECT o_orderpriority,
          |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
          |       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
          |       CAST(quantile_disc(CAST(floor(o_totalprice * 100) AS BIGINT), 0.5)
          |         AS BIGINT) AS med_cents,
          |       CAST(quantile_disc(CAST(floor(o_totalprice * 100) AS BIGINT), 0.9)
          |         AS BIGINT) AS p90_cents
          |FROM orders
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q86: SQL scalar UDF (CREATE FUNCTION ... RETURN expr) — the
    // user-extension surface that does NOT cost what UDFs usually cost:
    // Catalyst INLINES the function body at analysis time, so the
    // executed plan contains plain arithmetic expressions — full
    // whole-stage codegen, predicate pushdown through the call site, no
    // serialization wall (a Scala/Python UDF is an opaque black box to
    // the optimizer; this is a macro). PlanShapeSpec asserts no ScalaUDF
    // / BatchEvalPython node survives in the physical plan. The oracle
    // inlines the same expression by hand — which is exactly what
    // Catalyst did, so the results must agree bit-for-bit (double
    // arithmetic is IEEE-identical across both engines, then floored to
    // integer cents before the sum).
    GraftQuery(
      "q86_sql_macro",
      "SQL scalar UDF inlined by Catalyst (net-of-discount-plus-tax cents rollup)",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.lineitem.createOrReplaceTempView("q86_lineitem")
        spark.sql(
          """CREATE OR REPLACE TEMPORARY FUNCTION q86_net_cents(
            |  p DOUBLE, d DOUBLE, t DOUBLE) RETURNS BIGINT
            |RETURN CAST(floor(p * (1 - d) * (1 + t) * 100) AS BIGINT)""".stripMargin)
        spark.sql(
          """SELECT l_returnflag,
            |       count(*) AS cnt,
            |       sum(q86_net_cents(l_extendedprice, l_discount, l_tax)) AS net_cents
            |FROM q86_lineitem
            |GROUP BY l_returnflag
            |ORDER BY l_returnflag""".stripMargin)
      },
      Some(
        """SELECT l_returnflag,
          |       count(*) AS cnt,
          |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
          |                           * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
          |         AS net_cents
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q87: COST-BASED join reordering — the optimizer surface that needs
    // table statistics to exist. The SQL is written in the WORST order
    // (fact ⋈ fact first, the selective dim last — exactly how a
    // dashboard author writes it); with ANALYZE'd tables
    // (io/StatsCatalog: external tables + per-column NDV/min/max, built
    // once per JVM) and CBO on, Catalyst's CostBasedJoinReorder moves
    // the mktsegment-filtered customer ⋈ orders join INNERMOST, so the
    // lineitem fact joins against ~1/5 of orders instead of all of
    // them. At 100 TB that reorder is the difference between shuffling
    // the whole fact-fact join output and shuffling a fifth of it —
    // and it is exactly what a rule-based planner cannot know without
    // stats. The session is a child session (CBO flags scoped to it);
    // results are order-independent, so the oracle is the plain join.
    // PlanShapeSpec pins the reorder: selective join innermost with
    // stats, left-deep text order without.
    GraftQuery(
      "q87_cbo_join_reorder",
      "stats-driven join reorder: worst-order SQL, CBO moves the selective dim join innermost",
      (spark, dir) => {
        val s = spark.newSession()
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        val (cust, ord, li) = graft.io.StatsCatalog.analyzedStarTables(s, dir)
        s.sql(
          s"""SELECT o_orderpriority, count(*) AS cnt,
            |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
            |FROM $li JOIN $ord ON l_orderkey = o_orderkey
            |         JOIN $cust ON o_custkey = c_custkey
            |WHERE c_mktsegment = 'BUILDING'
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin)
      },
      Some(
        """SELECT o_orderpriority, count(*) AS cnt,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |              JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q88: schema-evolution scan — the table whose early files predate a
    // column. Generation 0 (even event_ids) was written WITHOUT the
    // extracted prop_k column; generation 1 (odd) carries it. The read
    // unions the two schemas (`mergeSchema`), old rows surface NULL, and
    // the aggregate coalesces. This is the drift every long-lived 100 TB
    // table accumulates; the mergeSchema flag does a footer walk across
    // files at planning (cheap but not free — production pins the merged
    // schema explicitly once known, which skips the walk; the flag is
    // the discovery tool). The oracle recomputes from the raw table with
    // the generation rule inlined — layout generations must never change
    // values, only column availability. n_with_k mirrors the engine's
    // count(prop_k) exactly (odd generation AND $.k extractable as
    // BIGINT), so parity does not depend on the generator always
    // populating $.k.
    GraftQuery(
      "q88_schema_evolution_scan",
      "mergeSchema read across layout generations (old files lack the new column, null-filled)",
      (spark, dir) => {
        val layout = graft.io.WarehouseLayout.eventsTwoGenerationLayout(spark, dir)
        spark.read.option("mergeSchema", "true")
          .option("recursiveFileLookup", "true").parquet(layout)
          .groupBy(col("event_type"))
          .agg(
            cnt.as("n_events"),
            count(col("prop_k")).as("n_with_k"),
            sum(coalesce(col("prop_k"), lit(0L))).as("sum_k"))
          .orderBy(col("event_type"))
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |       count(CASE WHEN event_id % 2 = 1
          |                   AND TRY_CAST(props ->> '$.k' AS BIGINT) IS NOT NULL
          |                   THEN 1 END) AS n_with_k,
          |       CAST(sum(CASE WHEN event_id % 2 = 1
          |                     THEN coalesce(TRY_CAST(props ->> '$.k' AS BIGINT), 0)
          |                     ELSE 0 END) AS BIGINT) AS sum_k
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q89: KMV sketch ALGEBRA — set operations on mergeable summaries,
    // the reason sketches exist at 100 TB: "distinct users in A", "in
    // A∪B", "in A∩B" for every pair of event types, answered from
    // per-type sketches WITHOUT revisiting the fact table per pair.
    // Union: KMV sketches union exactly (bottom-k of the pooled minima
    // is the union's true bottom-k — q66's merge law). Intersection:
    // the Beyer et al. SIGMOD'07 estimator — K_ρ = |union-bottom-k ∩
    // A's sketch ∩ B's sketch|, est = K_ρ·est_union div k — integer
    // arithmetic end to end, so the whole algebra hash-matches DuckDB.
    // The EXACT side rides a per-user type BITMASK: one per-user
    // aggregate collapses the fact table into a ≤2^|types|-row mask
    // histogram, from which every pair's exact union/intersection is a
    // 310-row scan (10 pairs × ≤31 masks) — itself a lesson in not
    // re-scanning facts per pair. Sketch work after the per-type
    // bottom-k heap is sketch-row-sized (≤ k·|types| rows), all joins
    // broadcast. The 5-row type dim takes a row_number window (the q09
    // surrogate-key pattern: windows on bounded dims are free).
    GraftQuery(
      "q89_kmv_set_ops",
      "KMV sketch algebra: pairwise distinct-user union/intersection estimates vs exact mask-histogram",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val k = 64
        val hashSpace = 4503599627370496L // 2^52: 13 hex chars of md5
        val topk = graft.functions.expressions.GroupedTopK.topK(k)
        val types = t.events.select(col("event_type")).distinct()
          .select(col("event_type"),
            (row_number().over(Window.orderBy(col("event_type"))) - 1).as("bit"))
        val h = conv(substring(md5(col("user_id").cast("string")), 1, 13), 16, 10)
          .cast("long")
        // per-type KMV sketch: distinct 52-bit user hashes, bottom-k heap
        val sketch = t.events.select(col("event_type"), h.as("h")).distinct()
          .groupBy(col("event_type"))
          .agg(topk((-col("h")).cast("double"), col("h")).as("sk"))
          .select(col("event_type"), explode(col("sk")).as("e"))
          .select(col("event_type"), col("e").getField("id").as("h"))
        // exact side: per-user type bitmask -> tiny mask histogram
        val maskHist = t.events.join(broadcast(types), "event_type")
          .groupBy(col("user_id"))
          .agg(expr("CAST(bit_or(shiftleft(1, bit)) AS BIGINT)").as("mask"))
          .groupBy(col("mask")).agg(cnt.as("n_users"))
        val pairs = types.select(col("event_type").as("type_a"), col("bit").as("bit_a"))
          .crossJoin(broadcast(
            types.select(col("event_type").as("type_b"), col("bit").as("bit_b"))))
          .where(col("type_a") < col("type_b"))
        val exact = pairs.crossJoin(broadcast(maskHist))
          .groupBy(col("type_a"), col("type_b"))
          .agg(
            sum(when(expr("shiftright(mask, bit_a) & 1 = 1 AND shiftright(mask, bit_b) & 1 = 1"),
              col("n_users")).otherwise(0L)).as("n_inter_exact"),
            sum(when(expr("shiftright(mask, bit_a) & 1 = 1 OR shiftright(mask, bit_b) & 1 = 1"),
              col("n_users")).otherwise(0L)).as("n_union_exact"))
        // per-pair union sketch: pool both sketches, re-bottom-k
        val skA = sketch.select(col("event_type").as("type_a"), col("h"))
        val skB = sketch.select(col("event_type").as("type_b"), col("h"))
        val pool = pairs.join(broadcast(skA), "type_a")
          .select(col("type_a"), col("type_b"), col("h"))
          .union(pairs.join(broadcast(skB), "type_b")
            .select(col("type_a"), col("type_b"), col("h")))
          .distinct()
        val unionSk = pool.groupBy(col("type_a"), col("type_b"))
          .agg(topk((-col("h")).cast("double"), col("h")).as("sk"))
          .select(col("type_a"), col("type_b"), posexplode(col("sk")))
          .select(col("type_a"), col("type_b"), (col("pos") + 1).cast("long").as("rn"),
            col("col").getField("id").as("h"))
        val unionAgg = unionSk.groupBy(col("type_a"), col("type_b"))
          .agg(cnt.as("kmv_size"),
            coalesce(max(when(col("rn") === k, col("h"))), lit(0L)).as("kth_hash"))
          .select(col("type_a"), col("type_b"), col("kmv_size"),
            // nullif guard: hash 0 in the union bottom-k (md5 prefix of
            // 13 zero hex chars, ~2^-52 per user) would make div yield
            // NULL; estimate degenerates to kmv_size — defense-in-depth
            when(col("kmv_size") < k, col("kmv_size"))
              .otherwise(coalesce(
                expr(s"${k - 1}L * ${hashSpace}L div nullif(kth_hash, 0L)"),
                col("kmv_size")))
              .as("est_union"))
        // K_rho: union-bottom-k hashes present in BOTH input sketches
        val krho = unionSk
          .join(broadcast(skA), Seq("type_a", "h"), "left_semi")
          .join(broadcast(skB), Seq("type_b", "h"), "left_semi")
          .groupBy(col("type_a"), col("type_b"))
          .agg(cnt.as("k_rho"))
        exact.join(unionAgg, Seq("type_a", "type_b"))
          // left + coalesce: a pair whose union-bottom-k carries no
          // common hash has K_rho = 0, not a missing row
          .join(krho, Seq("type_a", "type_b"), "left")
          .withColumn("k_rho", coalesce(col("k_rho"), lit(0L)))
          .select(col("type_a"), col("type_b"),
            col("n_union_exact"), col("n_inter_exact"),
            col("kmv_size"), col("est_union"), col("k_rho"),
            when(col("kmv_size") < k, col("k_rho"))
              .otherwise(expr(s"k_rho * est_union div $k")).as("est_inter"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(
        """WITH types AS (
          |  SELECT event_type,
          |         CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS bit
          |  FROM (SELECT DISTINCT event_type FROM events)),
          |base AS (
          |  SELECT DISTINCT event_type,
          |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
          |  FROM events),
          |rk AS (SELECT event_type, h,
          |              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          |       FROM base),
          |sk AS (SELECT event_type, h FROM rk WHERE rn <= 64),
          |masks AS (
          |  SELECT user_id, CAST(bit_or(1 << bit) AS BIGINT) AS mask
          |  FROM events JOIN types USING (event_type) GROUP BY user_id),
          |hist AS (SELECT mask, CAST(count(*) AS BIGINT) AS n_users
          |         FROM masks GROUP BY mask),
          |pairs AS (
          |  SELECT a.event_type AS type_a, a.bit AS bit_a,
          |         b.event_type AS type_b, b.bit AS bit_b
          |  FROM types a JOIN types b ON a.event_type < b.event_type),
          |exact AS (
          |  SELECT type_a, type_b,
          |         CAST(sum(CASE WHEN (mask >> bit_a) & 1 = 1
          |                        AND (mask >> bit_b) & 1 = 1
          |                       THEN n_users ELSE 0 END) AS BIGINT) AS n_inter_exact,
          |         CAST(sum(CASE WHEN (mask >> bit_a) & 1 = 1
          |                         OR (mask >> bit_b) & 1 = 1
          |                       THEN n_users ELSE 0 END) AS BIGINT) AS n_union_exact
          |  FROM pairs CROSS JOIN hist GROUP BY 1, 2),
          |pool AS (
          |  SELECT DISTINCT type_a, type_b, h FROM (
          |    SELECT p.type_a, p.type_b, s.h FROM pairs p
          |    JOIN sk s ON s.event_type = p.type_a
          |    UNION ALL
          |    SELECT p.type_a, p.type_b, s.h FROM pairs p
          |    JOIN sk s ON s.event_type = p.type_b)),
          |urk AS (SELECT type_a, type_b, h,
          |               row_number() OVER (PARTITION BY type_a, type_b
          |                                  ORDER BY h) AS rn
          |        FROM pool),
          |usk AS (SELECT * FROM urk WHERE rn <= 64),
          |uagg AS (
          |  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS kmv_size,
          |         CAST(coalesce(max(CASE WHEN rn = 64 THEN h END), 0) AS BIGINT)
          |           AS kth_hash
          |  FROM usk GROUP BY 1, 2),
          |uest AS (
          |  SELECT type_a, type_b, kmv_size,
          |         CASE WHEN kmv_size < 64 THEN kmv_size
          |              ELSE coalesce(63 * 4503599627370496
          |                            // nullif(kth_hash, 0), kmv_size)
          |              END AS est_union
          |  FROM uagg),
          |krho AS (
          |  SELECT u.type_a, u.type_b, CAST(count(*) AS BIGINT) AS k_rho
          |  FROM usk u
          |  WHERE EXISTS (SELECT 1 FROM sk a
          |                WHERE a.event_type = u.type_a AND a.h = u.h)
          |    AND EXISTS (SELECT 1 FROM sk b
          |                WHERE b.event_type = u.type_b AND b.h = u.h)
          |  GROUP BY 1, 2)
          |SELECT e.type_a, e.type_b, e.n_union_exact, e.n_inter_exact,
          |       u.kmv_size, CAST(u.est_union AS BIGINT) AS est_union,
          |       CAST(coalesce(r.k_rho, 0) AS BIGINT) AS k_rho,
          |       CAST(CASE WHEN u.kmv_size < 64 THEN coalesce(r.k_rho, 0)
          |                 ELSE coalesce(r.k_rho, 0) * u.est_union // 64 END
          |            AS BIGINT) AS est_inter
          |FROM exact e JOIN uest u USING (type_a, type_b)
          |             LEFT JOIN krho r USING (type_a, type_b)
          |ORDER BY type_a, type_b""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q92: mergeable QUANTILE sketch in plain integer columns — the q66
    // trick (sketch state as ordinary rows so merges replay in SQL)
    // applied to quantiles, closing the last sketch family without a
    // full oracle. True KLL compactors are RANDOMIZED (each compaction
    // keeps odd or even ranks by coin flip — Karnin/Lang/Liberty,
    // FOCS'16), which no cross-engine hash oracle can replay; the
    // deterministic, oracle-able equivalent with the same state shape
    // (geometric levels, bounded retained set, mergeable by summing
    // level histograms) is the HASH LADDER: row r survives at threshold
    // L iff its 52-bit md5 key has ≥ L trailing zero bits — a
    // deterministic Bernoulli sample at rate 2^-L (Gibbons'
    // distinct-sampling ladder, VLDB'01, applied to rank estimation).
    // L is chosen PER GROUP from the level histogram: the smallest L
    // whose suffix count fits the k=256 budget (computed as
    // 1 + max{level : suffix(level) > k}, so absent levels resolve
    // correctly). Retained rows all carry weight 2^L, so the φ-quantile
    // read-off reduces to rank within the sketch: value at sketch rank
    // ceil(φ·retained). Rank error is O(n/√k) w.h.p. — weaker than
    // KLL's O(n·log²/k) at equal space, the price of determinism; the
    // error-bound spec pins it empirically against the exact control.
    //
    // MERGE story (why this scales): per-shard sketches (user_id % 4
    // plays "partition file") are merged into per-type sketches WITHOUT
    // rescanning facts — summed level histograms pick the merged L,
    // and the merged retained set is just the shard-sketch rows at
    // level ≥ L (valid because suffix counts are superadditive, so
    // L_merged ≥ every shard L — the same argument as KMV's union law).
    // Exact per-type p50/p90 ride alongside as the test-scale control
    // (the full-sort shape q85 documents as the NON-scaling path; the
    // sketch side touches only histogram rows + ≤k retained rows per
    // shard after the map-side scan). Everything is integer micro-units
    // end to end → DuckDB hash-matches the entire pipeline, estimates
    // included.
    GraftQuery(
      "q92_quantile_sketch_ladder",
      "mergeable hash-ladder quantile sketch: per-shard build, histogram merge, p50/p90 read-off vs exact",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val k = 256
        val base = t.events.select(
          col("event_type"),
          (col("user_id") % 4).as("shard"),
          floor(col("value") * 1000000).cast("long").as("v"),
          conv(substring(md5(col("event_id").cast("string")), 1, 13), 16, 10)
            .cast("long").as("h"))
          .withColumn("lvl",
            expr("CASE WHEN h = 0 THEN 52L ELSE CAST(log2(h & -h) AS BIGINT) END"))
        // per-(type, shard) level histogram — map-side combinable,
        // ≤53 rows per shard after the partial agg
        val shardHist = base.groupBy(col("event_type"), col("shard"), col("lvl"))
          .agg(cnt.as("c"))
        val wSuffix = Window.partitionBy(col("event_type"), col("shard"))
          .orderBy(col("lvl").desc)
        val shardL = shardHist
          .withColumn("suffix", sum(col("c")).over(wSuffix))
          .groupBy(col("event_type"), col("shard"))
          .agg(coalesce(max(when(col("suffix") > k, col("lvl"))) + 1L, lit(0L))
            .as("shard_l"))
        // shard sketch: rows at level ≥ shard L (≤k rows per shard)
        val shardSketch = base
          .join(shardL, Seq("event_type", "shard"))
          .where(col("lvl") >= col("shard_l"))
        // merged threshold from SUMMED histograms — sketch-row-sized work
        val groupL = shardHist.groupBy(col("event_type"), col("lvl"))
          .agg(sum(col("c")).as("c"))
          .withColumn("suffix",
            sum(col("c")).over(Window.partitionBy(col("event_type"))
              .orderBy(col("lvl").desc)))
          .groupBy(col("event_type"))
          .agg(coalesce(max(when(col("suffix") > k, col("lvl"))) + 1L, lit(0L))
            .as("l"))
        val wRank = Window.partitionBy(col("event_type"))
          .orderBy(col("v"), col("h"))
        val wAll = Window.partitionBy(col("event_type"))
        // the sketch is bounded by k per shard, so it is the build side:
        // the streamed groupL arrives type-clustered from its suffix
        // window and the rank window reads it in place. Left to AQE, the
        // build side flipped with the core count (at 4 partitions it
        // built groupL and the rank window paid its own exchange)
        val merged = broadcast(shardSketch)
          .join(groupL, "event_type")
          .where(col("lvl") >= col("l"))
          .withColumn("rn", row_number().over(wRank).cast("long"))
          .withColumn("m", count(lit(1)).over(wAll))
        val sketchSide = merged
          .groupBy(col("event_type"), col("l"))
          .agg(
            max(col("m")).as("retained"),
            (max(col("m")) * expr("shiftleft(1L, CAST(l AS INT))")).as("est_total"),
            // `div`, not `/`: Column `/` is double division and the
            // fractional target would never equal an integer rank
            max(when(col("rn") === expr("(m * 50 + 99) div 100"), col("v"))).as("p50_est"),
            max(when(col("rn") === expr("(m * 90 + 99) div 100"), col("v"))).as("p90_est"))
        // exact control: same read-off definition over ALL rows
        val exact = base
          .withColumn("rn", row_number().over(wRank).cast("long"))
          .withColumn("m", count(lit(1)).over(wAll))
          .groupBy(col("event_type"))
          .agg(
            max(col("m")).as("n_exact"),
            max(when(col("rn") === expr("(m * 50 + 99) div 100"), col("v"))).as("p50_exact"),
            max(when(col("rn") === expr("(m * 90 + 99) div 100"), col("v"))).as("p90_exact"))
        sketchSide.join(exact, "event_type")
          .select(col("event_type"), col("l"), col("retained"), col("est_total"),
            col("n_exact"), col("p50_est"), col("p90_est"),
            col("p50_exact"), col("p90_exact"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH base AS (
          |  SELECT event_type, user_id % 4 AS shard,
          |         CAST(floor(value * 1000000) AS BIGINT) AS v,
          |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h
          |  FROM events),
          |lv AS (
          |  SELECT *, CASE WHEN h = 0 THEN 52
          |                 ELSE CAST(log2(h & (-h)) AS BIGINT) END AS lvl
          |  FROM base),
          |shard_hist AS (
          |  SELECT event_type, shard, lvl, CAST(count(*) AS BIGINT) AS c
          |  FROM lv GROUP BY 1, 2, 3),
          |shard_l AS (
          |  SELECT event_type, shard,
          |         coalesce(max(CASE WHEN suffix > 256 THEN lvl END) + 1, 0) AS shard_l
          |  FROM (SELECT *, sum(c) OVER (PARTITION BY event_type, shard
          |                               ORDER BY lvl DESC) AS suffix
          |        FROM shard_hist)
          |  GROUP BY 1, 2),
          |shard_sketch AS (
          |  SELECT lv.* FROM lv JOIN shard_l USING (event_type, shard)
          |  WHERE lvl >= shard_l),
          |group_l AS (
          |  SELECT event_type,
          |         coalesce(max(CASE WHEN suffix > 256 THEN lvl END) + 1, 0) AS l
          |  FROM (SELECT event_type, lvl,
          |               sum(c) OVER (PARTITION BY event_type
          |                            ORDER BY lvl DESC) AS suffix
          |        FROM (SELECT event_type, lvl, sum(c) AS c
          |              FROM shard_hist GROUP BY 1, 2))
          |  GROUP BY 1),
          |merged AS (
          |  SELECT s.event_type, g.l, s.v, s.h,
          |         row_number() OVER (PARTITION BY s.event_type
          |                            ORDER BY s.v, s.h) AS rn,
          |         count(*) OVER (PARTITION BY s.event_type) AS m
          |  FROM shard_sketch s JOIN group_l g USING (event_type)
          |  WHERE s.lvl >= g.l),
          |sk AS (
          |  SELECT event_type, l,
          |         CAST(max(m) AS BIGINT) AS retained,
          |         CAST(max(m) * (1::BIGINT << l) AS BIGINT) AS est_total,
          |         max(CASE WHEN rn = (m * 50 + 99) // 100 THEN v END) AS p50_est,
          |         max(CASE WHEN rn = (m * 90 + 99) // 100 THEN v END) AS p90_est
          |  FROM merged GROUP BY 1, 2),
          |ex AS (
          |  SELECT event_type,
          |         CAST(max(m) AS BIGINT) AS n_exact,
          |         max(CASE WHEN rn = (m * 50 + 99) // 100 THEN v END) AS p50_exact,
          |         max(CASE WHEN rn = (m * 90 + 99) // 100 THEN v END) AS p90_exact
          |  FROM (SELECT event_type, v,
          |               row_number() OVER (PARTITION BY event_type
          |                                  ORDER BY v, h) AS rn,
          |               count(*) OVER (PARTITION BY event_type) AS m
          |        FROM lv)
          |  GROUP BY 1)
          |SELECT s.event_type, s.l, s.retained, s.est_total,
          |       e.n_exact, s.p50_est, s.p90_est, e.p50_exact, e.p90_exact
          |FROM sk s JOIN ex e USING (event_type)
          |ORDER BY s.event_type""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q91: NULL join semantics — the three-valued-logic traps every SQL
    // engine must implement exactly, exercised on keys with GUARANTEED
    // nulls on both sides (nullif(key % 100, 7) plants them at every
    // SF). (a) `NOT IN` against a list containing NULL matches NOTHING
    // (x <> NULL is unknown for every x) — Spark plans it as a
    // null-AWARE anti join, a dedicated broadcast variant, and the
    // count collapses to 0; (b) the same question asked with NOT
    // EXISTS is null-clean and returns the real complement (the
    // rewrite every linter suggests — here both run, and the outputs
    // differ, which IS the lesson); (c) IS NOT DISTINCT FROM (null-safe
    // equality) joins NULL to NULL — still a HASH join (EqualNullSafe
    // is a valid partitioning key), asserted by the plan spec. The
    // pair count multiplies per-key tallies from both sides (two
    // ~101-row aggregates) instead of materializing the pair blowup —
    // count(A ⋈ B) = Σ_k cnt_A(k)·cnt_B(k), the scale-sane formulation.
    // DuckDB runs the same three-valued logic as the oracle.
    GraftQuery(
      "q91_null_semantics",
      "NOT-IN null poison (null-aware anti join) vs NOT EXISTS vs null-safe equality, one summary row",
      (spark, dir) => {
        val t = Tables(spark, dir)
        t.customer.select(nullif(col("c_custkey") % 100, lit(7)).as("k"))
          .createOrReplaceTempView("q91_c")
        t.orders.select(nullif(col("o_custkey") % 100, lit(7)).as("k"))
          .createOrReplaceTempView("q91_o")
        spark.sql(
          """SELECT
            |  (SELECT count(*) FROM q91_c
            |   WHERE k NOT IN (SELECT k FROM q91_o)) AS n_not_in,
            |  (SELECT count(*) FROM q91_c
            |   WHERE k NOT IN (SELECT k FROM q91_o WHERE k IS NOT NULL))
            |    AS n_not_in_clean,
            |  (SELECT count(*) FROM q91_c c
            |   WHERE NOT EXISTS (SELECT 1 FROM q91_o o WHERE o.k = c.k))
            |    AS n_not_exists,
            |  (SELECT CAST(sum(c.n * o.n) AS BIGINT) FROM
            |     (SELECT k, count(*) AS n FROM q91_c GROUP BY k) c
            |   JOIN (SELECT k, count(*) AS n FROM q91_o GROUP BY k) o
            |     ON c.k IS NOT DISTINCT FROM o.k) AS n_nullsafe_pairs""".stripMargin)
      },
      Some(
        """WITH c AS (SELECT nullif(c_custkey % 100, 7) AS k FROM customer),
          |o AS (SELECT nullif(o_custkey % 100, 7) AS k FROM orders)
          |SELECT
          |  (SELECT count(*) FROM c WHERE k NOT IN (SELECT k FROM o)) AS n_not_in,
          |  (SELECT count(*) FROM c
          |   WHERE k NOT IN (SELECT k FROM o WHERE k IS NOT NULL)) AS n_not_in_clean,
          |  (SELECT count(*) FROM c
          |   WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.k = c.k)) AS n_not_exists,
          |  (SELECT CAST(sum(cc.n * oo.n) AS BIGINT) FROM
          |     (SELECT k, count(*) AS n FROM c GROUP BY k) cc
          |   JOIN (SELECT k, count(*) AS n FROM o GROUP BY k) oo
          |     ON cc.k IS NOT DISTINCT FROM oo.k) AS n_nullsafe_pairs""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q93: market-basket pair mining — "frequently bought together" (the
    // association-rule core: support / confidence / lift per co-ordered
    // part pair). The reference's dashboard slices single dimensions;
    // this is the canonical two-item extension every retail OLAP stack
    // ships (Apriori's k=2 pass — higher k repeats this shape on the
    // pair survivors).
    //
    // Scale shape (100 TB): pair generation is a self-join of the
    // DISTINCT (order, part) item set on the NATURAL basket key — one
    // hash shuffle of the item set, then per-order fan-out bounded by
    // the basket size (TPC-H: ≤ 7 lines/order ⇒ ≤ 21 pairs; a real
    // deployment caps pathological baskets with a length filter before
    // pairing, the d02 hot-bucket discipline — a single 10⁶-item basket
    // would otherwise emit 5·10¹¹ pairs). Pair counts are a
    // partial+final hash agg (map-side combine), the top-k cut is
    // TakeOrderedAndProject (no global sort), and ONLY the 40 surviving
    // pairs join the per-item order counts for confidence/lift — the
    // metric joins are output-bound, never corpus-bound. All metrics in
    // integer e6 units (floor division on positive counts — identical
    // in Spark `DIV` and DuckDB `//`), so the ranking replays exactly.
    // Lift is computed by STAGED division — lift_e6 = (conf_ab_e6 ·
    // n_baskets) DIV n_b — never as support·n_baskets·1e6 in one
    // product: at corpus cardinalities that single product exceeds 2^63
    // (silent Long wraparound in non-ANSI Spark vs DuckDB's 128-bit
    // promotion). The staged form's worst factor is conf_ab_e6 ≤ 1e6 ×
    // n_baskets, overflow-free for any corpus under ~9.2e12 baskets
    // (three orders of magnitude past 100 TB TPC-H), at the cost of a
    // ≤1-ulp-of-e6 floor difference that both engines share by
    // construction.
    GraftQuery(
      "q93_basket_pairs",
      "market-basket pair mining: top-40 co-ordered part pairs with support, confidence, lift",
      (spark, dir) => {
        val t = Tables(spark, dir)
        val items = t.lineitem
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
          .distinct()
        val pairs = items.select(col("okey"), col("pkey").as("a"))
          .join(items.select(col("okey"), col("pkey").as("b")), Seq("okey"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(cnt.as("support"))
        val top = pairs
          .orderBy(col("support").desc, col("a"), col("b"))
          .limit(40)
        val itemN = items.groupBy(col("pkey")).agg(cnt.as("n"))
        val baskets = items.select(col("okey")).distinct()
          .agg(cnt.as("n_baskets"))
        top
          .join(itemN.select(col("pkey").as("a"), col("n").as("n_a")), Seq("a"))
          .join(itemN.select(col("pkey").as("b"), col("n").as("n_b")), Seq("b"))
          .crossJoin(broadcast(baskets)) // single-row global count
          .select(col("a"), col("b"), col("support"),
            expr("support * 1000000L DIV n_a").as("conf_ab_e6"),
            expr("support * 1000000L DIV n_b").as("conf_ba_e6"),
            expr("(support * 1000000L DIV n_a) * n_baskets DIV n_b").as("lift_e6"))
          .orderBy(col("support").desc, col("a"), col("b"))
      },
      Some(
        """WITH items AS (
          |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem),
          |pairs AS (
          |  SELECT x.pkey AS a, y.pkey AS b, CAST(count(*) AS BIGINT) AS support
          |  FROM items x JOIN items y ON x.okey = y.okey AND x.pkey < y.pkey
          |  GROUP BY 1, 2),
          |top AS (
          |  SELECT a, b, support FROM pairs
          |  ORDER BY support DESC, a, b LIMIT 40),
          |itemn AS (SELECT pkey, CAST(count(*) AS BIGINT) AS n FROM items
          |          GROUP BY pkey),
          |tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets
          |        FROM items)
          |SELECT t.a, t.b, t.support,
          |       CAST((t.support * 1000000) // na.n AS BIGINT) AS conf_ab_e6,
          |       CAST((t.support * 1000000) // nb.n AS BIGINT) AS conf_ba_e6,
          |       CAST((((t.support * 1000000) // na.n) * tot.n_baskets) // nb.n
          |            AS BIGINT) AS lift_e6
          |FROM top t
          |JOIN itemn na ON na.pkey = t.a
          |JOIN itemn nb ON nb.pkey = t.b
          |CROSS JOIN tot
          |ORDER BY t.support DESC, t.a, t.b""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // q94: JSON-lines source round-trip — the interchange format event
    // feeds actually land in (SRC breadth beyond the CSV dialects and
    // parquet: line-delimited JSON is splittable, so a 100 TB feed scans
    // at full parallelism, unlike a multi-line JSON document). The
    // events land as JSONL with every value ALREADY integer-coded
    // (unix micros, value micros — floor(value·1e6), the q62
    // convention): JSON longs round-trip exactly, while raw doubles
    // would ride on shortest-repr printing. The read path uses an
    // EXPLICIT schema — at corpus scale schema inference is a full
    // extra pass over the data; it exists for exploration, and
    // WritersSpec proves it infers this layout losslessly. The verify
    // aggregate touches every column, so any serialization defect
    // breaks the hash against the parquet-side oracle.
    GraftQuery(
      "q94_jsonl_roundtrip",
      "events → JSON-lines sink → explicit-schema scan → per-type aggregate (parquet-side oracle)",
      (spark, dir) => {
        val layout = graft.io.TempLayouts.cached(
          "q94_jsonl#" + new java.io.File(dir).getCanonicalPath,
          "graft_jsonl_") { out =>
          Tables(spark, dir).events
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"),
              floor(col("value") * 1e6).cast("long").as("value_micros"))
            .write.mode("overwrite").json(out)
        }
        spark.read
          .schema("event_id LONG, user_id LONG, event_type STRING, " +
            "ts_us LONG, value_micros LONG")
          .json(layout)
          .groupBy(col("event_type"))
          .agg(cnt.as("n"),
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
    )
  )

  /** q39's SCD2 builder, single-sourced so q60 composes the same
    * dimension (the p03 convention). Unordered — callers sort. */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = t.orders
      .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
    changes
      .select(
        col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd").as("valid_to"),
        row_number().over(w).cast("long").as("version"),
        when(lead(col("o_orderdate"), 1).over(w).isNull, lit(1L)).otherwise(lit(0L))
          .as("is_current"))
  }

  /** q61's pre-aggregation join over the bucketed fact tables, exposed
    * so PlanShapeSpec can assert the join subtree alone is exchange-free
    * (the catalog entry's final groupBy adds its own legitimate
    * exchange on o_orderstatus). Runs in a no-broadcast child session:
    * the layout's value is precisely the shuffle a 100 TB fact-fact join
    * could not broadcast away. */
  def bucketedFactJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // each bucket is ONE sorted file (bucketedExternalTable pre-shuffles),
    // so the scan may report per-bucket ordering and the SMJ drops its
    // Sort nodes too; off by default since 3.0 because deriving ordering
    // means listing files at planning time — cheap here, and the file
    // listing is already needed for the scan itself
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val (ordersT, lineitemT) = graft.io.WarehouseLayout.bucketedFactTables(s, dir)
    s.table(lineitemT)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
      .join(s.table(ordersT).select(col("o_orderkey"), col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
  }

  /** q58's slice over the z-ordered layout, exposed for the WritersSpec
    * scan-metrics comparison. */
  def zorderLayoutSlice(spark: SparkSession, dir: String): DataFrame = {
    val layout = graft.io.WarehouseLayout.lineitemZOrdered(spark, dir)
    spark.read.parquet(layout)
      .where(col("l_partkey").between(40, 80))
      .groupBy(col("l_suppkey"))
      .agg(cnt.as("cnt"), sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy(col("l_suppkey"))
  }

  /** q62's slice over the equi-depth z-ordered events layout, exposed
    * for the WritersSpec scan-metrics + occupancy comparison. The slice
    * [30, 60] sits in the DENSE region of the value distribution
    * (~24% of rows) — exactly where equi-width z-cells overload. */
  def equiDepthZorderSlice(spark: SparkSession, dir: String): DataFrame = {
    val layout = graft.io.WarehouseLayout.eventsZOrderedEquiDepth(spark, dir)
    spark.read.parquet(layout)
      .where(col("value").between(30.0, 60.0))
      .groupBy(col("event_type"))
      .agg(cnt.as("cnt"),
        sum(floor(col("value") * 1e6).cast("long")).as("value_micros"))
      .orderBy(col("event_type"))
  }

  /** q55's slice over the shipdate-sorted layout, exposed for the
    * WritersSpec scan-metrics comparison. */
  def sortedLayoutSlice(spark: SparkSession, dir: String): DataFrame = {
    val layout = graft.io.WarehouseLayout.lineitemSortedByShipdate(spark, dir)
    spark.read.parquet(layout)
      .where(col("ship_date") >= lit("1995-06-01").cast("date") &&
        col("ship_date") < lit("1995-06-08").cast("date"))
      .groupBy(col("l_returnflag"))
      .agg(cnt.as("cnt"), sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q53's builder, returning the plan AND its Observation handle (the
    * spec reads the metrics after an action has run; the catalog entry
    * returns only the frame). A fresh Observation per invocation — Spark
    * binds one Observation to one Dataset action. */
  def observedRevenueAgg(spark: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation()
    val t = Tables(spark, dir)
    val observed = t.lineitem.observe(obs,
      cnt.as("n_rows"),
      sum(col("l_quantity").cast("long")).as("total_qty"),
      count(when(col("l_discount") > 0.05, 1)).as("n_high_discount"))
    val agg = observed
      .groupBy(col("l_returnflag"))
      .agg(cnt.as("n_rows"), sum(col("l_quantity").cast("long")).as("total_qty"))
      .orderBy(col("l_returnflag"))
    (agg, obs)
  }
}
