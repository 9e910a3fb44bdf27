package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs with the shapes of the TPC-H-style star
  * tables the catalog is written against (see FIXTURES.md, part B), at
  * scale factor `sf` (sf = 0.1: 600k lineitems, 150k orders, 20k parts,
  * 15k customers, 5k documents).
  *
  * Every column is a pure function of (seed, row id), so the same seed
  * gives byte-identical tables whatever the partitioning.
  */
object Gen {

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Adjectives = Seq("large", "hot", "blue", "green", "small", "cold", "red", "dark")
  private val Nouns = Seq("ring", "bolt", "gear", "pipe", "wire", "nut", "valve", "spring")
  private val PartTypes = Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  private val Langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
  private val Words = Seq("spark", "data", "query", "table", "join", "scan", "filter",
    "group", "agg", "sort", "hash", "merge", "window", "stream", "batch", "vector",
    "column", "row", "key", "value", "order", "line", "part", "customer", "fast",
    "slow", "big", "small", "the", "a")

  /** Uniform integer in [0, n) drawn from (seed, salt, id). */
  private def draw(seed: Long, salt: Int, id: Column, n: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n.toLong)).cast("int")

  private def pick(values: Seq[String], seed: Long, salt: Int, id: Column): Column =
    element_at(typedLit(values), draw(seed, salt, id, values.size) + 1)

  private def rows(spark: SparkSession, sf: Double, base: Long): DataFrame =
    spark.range(math.max(1L, math.round(base * sf))).toDF()

  /** The tables as lazy plans, keyed by file name. */
  def tables(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val id = col("id")
    val nCust = math.max(1L, math.round(15000 * sf)).toInt
    val nPart = math.max(1L, math.round(20000 * sf)).toInt
    val nSupp = math.max(1L, math.round(1000 * sf)).toInt
    val nOrders = math.max(1L, math.round(150000 * sf)).toInt
    val day0 = java.time.LocalDate.parse("1995-01-01")
    val days = (java.time.LocalDate.parse("2001-08-01").toEpochDay - day0.toEpochDay).toInt
    def date(salt: Int, c: Column): Column =
      date_add(lit(day0), draw(seed, salt, c, days + 1)).cast("timestamp")

    val region = spark.range(Regions.size).select(
      id.cast("int").as("r_regionkey"),
      element_at(typedLit(Regions), id.cast("int") + 1).as("r_name"))
    val nation = spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey"))
    val customer = rows(spark, sf, 15000).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      draw(seed, 1, id, 25).as("c_nationkey"),
      (draw(seed, 2, id, 1100000) / 100.0 - 999.99).as("c_acctbal"),
      pick(Segments, seed, 3, id).as("c_mktsegment"))
    val supplier = rows(spark, sf, 1000).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      draw(seed, 4, id, 25).as("s_nationkey"),
      (draw(seed, 5, id, 1100000) / 100.0 - 999.99).as("s_acctbal"))
    val part = rows(spark, sf, 20000).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(Adjectives, seed, 6, id), pick(Nouns, seed, 7, id)).as("p_name"),
      concat(lit("Brand#"), draw(seed, 8, id, 25).cast("string")).as("p_brand"),
      pick(PartTypes, seed, 9, id).as("p_type"),
      (draw(seed, 10, id, 50) + 1).as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice"))
    val orders = rows(spark, sf, 150000).select(
      id.as("o_orderkey"),
      draw(seed, 11, id, nCust).cast("long").as("o_custkey"),
      pick(Seq("O", "F", "P"), seed, 12, id).as("o_orderstatus"),
      (draw(seed, 13, id, 50000000) / 100.0).as("o_totalprice"),
      date(14, id).as("o_orderdate"),
      pick(Priorities, seed, 15, id).as("o_orderpriority"))
    val lineitem = rows(spark, sf, 600000).select(
      draw(seed, 16, id, nOrders).cast("long").as("l_orderkey"),
      draw(seed, 17, id, nPart).cast("long").as("l_partkey"),
      draw(seed, 18, id, nSupp).cast("long").as("l_suppkey"),
      (draw(seed, 19, id, 7) + 1).as("l_linenumber"),
      (draw(seed, 20, id, 50) + 1).cast("double").as("l_quantity"),
      (draw(seed, 21, id, 10000000) / 100.0).as("l_extendedprice"),
      (draw(seed, 22, id, 11) / 100.0).as("l_discount"),
      (draw(seed, 23, id, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), seed, 24, id).as("l_returnflag"),
      pick(Seq("O", "F"), seed, 25, id).as("l_linestatus"),
      date(26, id).as("l_shipdate"))
    val events = rows(spark, sf, 100000).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 25920000L
        + draw(seed, 27, id, 1000000)).as("ts"),
      draw(seed, 28, id, 2000).cast("long").as("user_id"),
      pick(EventTypes, seed, 29, id).as("event_type"),
      (draw(seed, 30, id, 20000) / 100.0).as("value"),
      format_string("{\"k\": %d}", draw(seed, 31, id, 100)).as("props"))
    val text = concat_ws(" ", transform(
      sequence(lit(1), draw(seed, 32, id, 90) + 8),
      i => element_at(typedLit(Words), draw(seed, 33, id * 1000 + i, Words.size) + 1)))
    val documents = rows(spark, sf, 5000).select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        pick(Langs, seed, 34, col("doc_id")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val embeddings = rows(spark, sf, 2000).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((draw(seed, 35, id * 64 + i, 2001) - 1000) / 1000.0).cast("float")).as("embedding"),
      draw(seed, 36, id, 10).as("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** The tables the star join of the serving table reads. */
  val Star: Seq[String] = Seq("nation", "customer", "part", "orders", "lineitem")

  /** Write the named tables as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, sf: Double, dir: String,
      names: Seq[String]): Unit = {
    val all = tables(spark, seed, sf)
    names.foreach(n => all(n).write.mode("overwrite").parquet(s"$dir/$n.parquet"))
  }
}
