package perfbench

/** A seeded trace of dashboard interactions, one closed-loop user.
  *
  * The dashboard (ref streamlit.py) keeps its widget state and re-runs
  * the whole script on every widget change: the six main-page charts
  * under the current filters and the three Query Analysis answers for the
  * current selections. The trace is a sequence of rounds;
  * each round holds one interaction of every kind in a fixed order, with
  * the values drawn from the seed, so every seed gives the same mix of
  * kinds and only the values differ:
  *
  *  - `quarter_range`: a new contiguous quarter range (streamlit.py:44–49);
  *  - `type_filter`: a new non-empty set of transaction types (62–75);
  *  - `group_toggle`: the "Symbol vs Company Name" switch (240–247);
  *  - `query_page`: new Query Analysis selections, a country and a
  *    quarter (378–445); those queries ignore the main-page filters;
  *  - `dividend_only`: the type filter set to {DIVIDENT} while the range
  *    spans at least two quarters, followed by a `type_filter` that
  *    restores BUY or SELL. This is the one state in which
  *    `Dashboard.buySellTrend` divides by a zero lag under ANSI mode;
  *    the trace keeps it so the failure is counted, once per round.
  */
object SessionTrace {

  val Quarters: Vector[String] = Vector("Q1", "Q2", "Q3", "Q4")
  val Types: Vector[String] = Vector("BUY", "SELL", "DIVIDENT")

  /** The main-page filter state an interaction renders. */
  final case class Filters(lo: Int, hi: Int, types: Seq[String], bySymbol: Boolean) {
    def range: (String, String) = (Quarters(lo), Quarters(hi))
    def groupCol: String = if (bySymbol) "symbol" else "company_name"
  }

  /** One widget change and the full state the re-run renders. */
  final case class Step(kind: String, filters: Filters, country: String, quarter: String)

  val Kinds: Seq[String] =
    Seq("quarter_range", "type_filter", "group_toggle", "query_page", "dividend_only")

  /** Round template: `dividend_only` first sets a range of two or more
    * quarters, and the next step lifts the {DIVIDENT} filter again. */
  private val Round: Seq[String] = Seq("quarter_range", "type_filter", "group_toggle",
    "query_page", "dividend_only", "type_filter", "quarter_range", "query_page")

  /** Non-empty type sets other than {DIVIDENT}. */
  private val TypeSets: Vector[Seq[String]] =
    (1 to 3).flatMap(Types.combinations).filter(_ != Seq("DIVIDENT")).toVector

  /** `n` steps for `seed`; `countries` are the Query Analysis choices. */
  def generate(seed: Long, n: Int, countries: Seq[String]): Vector[Step] = {
    val rnd = new scala.util.Random(seed)
    var f = Filters(0, 3, Types, bySymbol = true)
    var country = countries.head
    var quarter = Quarters.head
    def range(minWidth: Int): (Int, Int) = {
      val lo = rnd.nextInt(4 - minWidth + 1)
      (lo, lo + minWidth - 1 + rnd.nextInt(4 - lo - minWidth + 1))
    }
    Vector.tabulate(n) { i =>
      val kind = Round(i % Round.size)
      kind match {
        case "quarter_range" =>
          val (lo, hi) = range(1); f = f.copy(lo = lo, hi = hi)
        case "type_filter" =>
          val keep = TypeSets.filter(_ != f.types)
          f = f.copy(types = keep(rnd.nextInt(keep.size)))
        case "group_toggle" =>
          f = f.copy(bySymbol = !f.bySymbol)
        case "dividend_only" =>
          val (lo, hi) = range(2)
          f = f.copy(lo = lo, hi = hi, types = Seq("DIVIDENT"))
        case _ =>
          country = countries(rnd.nextInt(countries.size)); quarter = Quarters(rnd.nextInt(4))
      }
      Step(kind, f, country, quarter)
    }
  }
}
