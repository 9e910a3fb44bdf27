package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** An independent plain-Scala evaluation of every dashboard chart over
  * the collected serving table, used to check each chart Spark returns.
  *
  * Rows are dictionary-encoded once; every chart is a counting pass over
  * the codes, with the reference's (pandas') semantics.
  */
final class ChartOracle(rows: Seq[Row]) {
  import SessionTrace.Filters

  private val n = rows.size
  private val cols = Array.tabulate(7) { c =>
    val dict = mutable.LinkedHashMap.empty[String, Int]
    val codes = rows.iterator.map(r => dict.getOrElseUpdate(r.getString(c), dict.size)).toArray
    (codes, dict.keys.toArray)
  }
  private def code(c: Int, i: Int): Int = cols(c)._1(i)
  private def value(c: Int, v: Int): String = cols(c)._2(v)
  private def column(name: String): Int = ChartOracle.Columns.indexOf(name)
  private val Q = 0; private val Country = 1; private val Sym = 2; private val T = 6

  def countries: Seq[String] = cols(Country)._2.toSeq.sorted

  private def quarterOrd(q: String): Int = q.substring(1, 2).toInt

  private def selected(f: Filters): Array[Int] = {
    val okQ = cols(Q)._2.map { q => val o = quarterOrd(q); o >= f.lo + 1 && o <= f.hi + 1 }
    val okT = cols(T)._2.map(f.types.contains)
    (0 until n).filter(i => okQ(code(Q, i)) && okT(code(T, i))).toArray
  }

  private def counts(idx: Array[Int], key: Int => String): mutable.Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    idx.foreach(i => m(key(i)) = m.getOrElse(key(i), 0L) + 1)
    m
  }

  private def topK(m: collection.Map[String, Long], k: Int): Seq[(String, Long)] =
    m.toSeq.sortBy { case (key, c) => (-c, key) }.take(k)

  def metricCards(f: Filters): Seq[Seq[Any]] = {
    val idx = selected(f)
    def typed(p: String => Boolean) = idx.count(i => p(value(T, code(T, i)))).toLong
    Seq(Seq(idx.length.toLong, typed(_ == "BUY"), typed(_ == "SELL"),
      typed(_.contains("DIVID")), idx.map(code(Sym, _)).distinct.length.toLong))
  }

  def stackedByQuarter(f: Filters): Seq[Seq[Any]] =
    counts(selected(f), i => value(Q, code(Q, i)) + "\u0000" + value(T, code(T, i)))
      .toSeq.map { case (k, c) => val Array(q, t) = k.split("\u0000"); (q, t, c) }
      .sortBy { case (q, t, _) => (quarterOrd(q), t) }
      .map { case (q, t, c) => Seq(q, t, c) }

  /** Spark's `round(x, 1)` on a double: HALF_UP on the decimal form. */
  private def round1(x: Double): Double =
    BigDecimal(x).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The trend as the reference computes it, and whether some quarter
    * follows one with no BUY/SELL rows. There the reference's pandas
    * `pct_change` divides by zero and gives inf or NaN, marked
    * [[ChartOracle.NotFinite]]; Spark under ANSI mode raises
    * DIVIDE_BY_ZERO instead (the known defect). */
  def buySellTrend(f: Filters): (Seq[Seq[Any]], Boolean) = {
    val idx = selected(f)
    val total = counts(idx, i => value(Q, code(Q, i)))
    val bs = counts(idx.filter { i => val t = value(T, code(T, i)); t == "BUY" || t == "SELL" },
      i => value(Q, code(Q, i)))
    val qs = total.keys.toSeq.sortBy(quarterOrd)
    val bsc = qs.map(q => bs.getOrElse(q, 0L))
    val rows = qs.indices.map { j =>
      val pct = round1(bsc(j).toDouble / total(qs(j)).toDouble * 100)
      val change =
        if (j == 0) null
        else if (bsc(j - 1) == 0L) ChartOracle.NotFinite
        else round1((bsc(j) - bsc(j - 1)).toDouble / bsc(j - 1).toDouble * 100)
      Seq(qs(j), total(qs(j)), bsc(j), pct, change)
    }
    (rows, bsc.init.contains(0L))
  }

  def topKWithDetail(f: Filters, groupCol: String, k: Int): Seq[Seq[Any]] = {
    val idx = selected(f)
    val g = column(groupCol)
    val totals = topK(counts(idx, i => value(g, code(g, i))), k).toMap
    counts(idx.filter(i => totals.contains(value(g, code(g, i)))),
      i => value(g, code(g, i)) + "\u0000" + value(T, code(T, i)))
      .toSeq.map { case (key, c) => val Array(gv, t) = key.split("\u0000"); (gv, t, c) }
      .sortBy { case (gv, t, _) => (-totals(gv), gv, t) }
      .map { case (gv, t, c) => Seq(gv, t, c) }
  }

  private def all: Array[Int] = Array.range(0, n)

  private def qa(pred: Int => Boolean, col: Int, k: Int): Seq[Seq[Any]] =
    topK(counts(all.filter(pred), i => value(col, code(col, i))), k)
      .map { case (key, c) => Seq(key, c) }

  def qaSectors(country: String): Seq[Seq[Any]] =
    qa(i => value(T, code(T, i)) == "SELL" && value(Country, code(Country, i)) == country,
      column("sector"), 5)

  def qaIndustries(quarter: String): Seq[Seq[Any]] =
    qa(i => value(T, code(T, i)) == "BUY" && value(Q, code(Q, i)) == quarter,
      column("industry"), 5)

  def qaQuarters: Seq[Seq[Any]] =
    qa(i => { val t = value(T, code(T, i)); t == "BUY" || t == "SELL" }, Q, Int.MaxValue)
}

object ChartOracle {
  val Columns: Seq[String] = Seq("quarter", "country_name", "symbol", "company_name",
    "sector", "industry", "transaction_type")

  /** Spark rows as plain values, comparable with the oracle's. */
  def plain(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq)

  /** Where the reference has inf or NaN; a null, NaN or infinite value matches. */
  case object NotFinite

  /** `got` equals `want`, a [[NotFinite]] in `want` matching any value
    * that is not a finite number. */
  def matches(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall {
        case (null, NotFinite) => true
        case (d: Double, NotFinite) => d.isNaN || d.isInfinite
        case (a, b) => a == b
      }
    }
}
