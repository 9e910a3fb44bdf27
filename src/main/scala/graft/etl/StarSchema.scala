package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.CsvDialects

/** The reference ETL (ref etl.ipynb, single cell) re-expressed as one
  * lazy Spark plan per output: star-schema dimension builds, factless
  * fact assembly, and the denormalized wide serving table.
  *
  * Semantic parity points (SURVEY.md §2/§7.4):
  *  - Orphan-symbol cleanup (etl.ipynb:17–29) is a LEFT SEMI join against
  *    the symbols dim, not a collected key set (J4 done relationally).
  *  - `transaction_id` (IDTransaction) has duplicate values in the raw
  *    data — never deduped or joined on (SURVEY §7.4).
  *  - Country normalization (etl.ipynb:61–68): the 2-entry rename map is
  *    a `when` chain + `coalesce` fallback — a literal-table left join in
  *    spirit, no UDF (X6/J3).
  *  - Dimension ids are assigned by sorted natural key (etl.ipynb:51–52,
  *    78–81, 86–87, 91–94) — see [[SurrogateKeys]] for the parity vs
  *    scale policies.
  *  - The fact is factless (etl.ipynb:151–158): `Unit` and `Date` are
  *    dropped; every metric downstream is a row count.
  */
object StarSchema {

  final case class Dims(
      time: DataFrame,       // time_id, quarter
      geography: DataFrame,  // geography_id, country_name
      symbol: DataFrame,     // symbol_id, symbol, company_name, sector, industry, country_mapped
      transactionType: DataFrame) // transaction_type_id, transaction_type

  final case class Warehouse(dims: Dims, fact: DataFrame, wide: DataFrame)

  /** X6/J3 — ref etl.ipynb:61–68: align symbols-file country names to the
    * ISO naming convention. */
  def normalizeCountry(c: Column): Column =
    coalesce(
      when(c === "Taiwan", "Taiwan, Province of China")
        .when(c === "Turkey", "Türkiye"),
      c)

  /** X1+X2 — ref etl.ipynb:42–45: parse the statement timestamp and
    * derive the quarter label. */
  def withQuarter(account: DataFrame): DataFrame =
    account
      .withColumn("ts", to_timestamp(col("Date"), "dd/MM/yyyy HH:mm:ss"))
      .withColumn("quarter", concat(lit("Q"), quarter(col("ts")).cast("string")))

  /** J4 — ref etl.ipynb:17–29: drop transactions whose symbol has no
    * dimension row (212 of 2,281 in the reference data). Relational
    * semi-join; the dim side is broadcast. */
  def dropOrphanSymbols(account: DataFrame, symbols: DataFrame): DataFrame = {
    // aliased to avoid case-insensitive ambiguity with account's `Symbol`
    val dimSymbols = symbols.select(col("symbol").as("known_symbol"))
    account.join(broadcast(dimSymbols),
      account("Symbol") === col("known_symbol"), "left_semi")
  }

  /** Dimension builds — ref etl.ipynb:40–95. Parity-mode surrogate keys
    * (row_number over the sorted natural key). */
  def buildDims(account: DataFrame, symbols: DataFrame): Dims = {
    val time = account
      .select(col("quarter")).distinct()
      .withColumn("time_id", SurrogateKeys.sortedRowNumber(col("quarter")))
      .select(col("time_id"), col("quarter"))

    val symbolsMapped = symbols
      .withColumn("country_mapped", normalizeCountry(col("country")))

    // ref etl.ipynb:58–81: countries of ALL symbols (not only transacted).
    val geography = symbolsMapped
      .select(col("country_mapped").as("country_name"))
      .na.drop()
      .distinct()
      .withColumn("geography_id", SurrogateKeys.sortedRowNumber(col("country_name")))
      .select(col("geography_id"), col("country_name"))

    val symbolDim = symbolsMapped
      .withColumn("symbol_id", SurrogateKeys.sortedRowNumber(col("symbol")))
      .select(col("symbol_id"), col("symbol"), col("company_name"),
        col("sector"), col("industry"), col("country_mapped"))

    val txType = account
      .select(col("TransactionType").as("transaction_type")).distinct()
      .withColumn("transaction_type_id",
        SurrogateKeys.sortedRowNumber(col("transaction_type")))
      .select(col("transaction_type_id"), col("transaction_type"))

    Dims(time, geography, symbolDim, txType)
  }

  /** Star join — ref etl.ipynb:101–192: FK assignment via equi-joins
    * (J1; all dims broadcast). The fact and the wide serving table are
    * two projections of this ONE joined frame: the reference's J2
    * re-join of the fact to the same dims would only recover the
    * strings this frame already carries. */
  def joinDims(account: DataFrame, dims: Dims): DataFrame = {
    // renamed: account's `Symbol` collides with it case-insensitively
    val symbol = dims.symbol.withColumnRenamed("symbol", "dim_symbol")
    account
      .join(broadcast(dims.time), Seq("quarter"))
      .join(broadcast(symbol), account("Symbol") === symbol("dim_symbol"))
      .join(broadcast(dims.geography),
        symbol("country_mapped") === dims.geography("country_name"))
      .join(broadcast(dims.transactionType),
        account("TransactionType") === dims.transactionType("transaction_type"))
  }

  /** Fact — ref etl.ipynb:151–165: the factless projection/casts of the
    * star join (P1/P2/X3: Unit and Date dropped). */
  def factOf(star: DataFrame): DataFrame =
    star.select(
      col("IDTransaction").cast("long").as("transaction_id"),
      col("time_id").cast("int").as("time_id"),
      col("geography_id").cast("int").as("geography_id"),
      col("symbol_id").cast("int").as("symbol_id"),
      col("transaction_type_id").cast("int").as("transaction_type_id"))

  /** Wide serving table — ref etl.ipynb:169–192: the 7 string columns
    * the dashboard reads; `symbol` comes from the symbol dim. */
  def wideOf(star: DataFrame): DataFrame =
    star.select(col("quarter"), col("country_name"),
      col("dim_symbol").as("symbol"), col("company_name"), col("sector"),
      col("industry"), col("transaction_type"))

  /** Full pipeline from the raw CSV directory (ref etl.ipynb top-to-
    * bottom). Catalyst sees each output as one plan: scans → semi-join →
    * dim builds → broadcast FK joins → projection. */
  def build(spark: SparkSession, rawDir: String): Warehouse = {
    val accountRaw = CsvDialects.readAccount(
      spark, s"$rawDir/account-statement-1-1-2024-12-31-2024.csv")
    val symbols = CsvDialects.readSymbols(spark, s"$rawDir/symbols.csv")
    val account = withQuarter(dropOrphanSymbols(accountRaw, symbols))
    val dims = buildDims(account, symbols)
    val star = joinDims(account, dims)
    Warehouse(dims, factOf(star), wideOf(star))
  }
}
