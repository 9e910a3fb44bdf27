package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SessionTraceSpec extends AnyFunSuite {
  import SessionTrace._

  private val countries = Seq("China", "Germany", "United States")

  test("the same seed gives the same trace") {
    assert(generate(7, 200, countries) == generate(7, 200, countries))
  }

  test("different seeds give different traces") {
    assert(generate(7, 200, countries) != generate(8, 200, countries))
  }

  test("every round covers every interaction kind") {
    (0L until 20L).foreach { seed =>
      generate(seed, 64, countries).grouped(8).foreach { round =>
        assert(round.map(_.kind).toSet == Kinds.toSet, s"seed $seed")
      }
    }
  }

  test("type filters are never empty and only {DIVIDENT} steps select dividends alone") {
    generate(3, 400, countries).foreach { case Step(kind, f, country, quarter) =>
      assert(f.types.nonEmpty)
      assert(f.lo <= f.hi)
      assert((f.types == Seq("DIVIDENT")) == (kind == "dividend_only"))
      if (kind == "dividend_only") assert(f.hi > f.lo, "must span two or more quarters")
      assert(countries.contains(country))
      assert(Quarters.contains(quarter))
    }
  }

  test("each step changes only its own widget") {
    generate(9, 400, countries).zip(generate(9, 400, countries).tail).foreach { case (a, b) =>
      if (b.kind == "query_page") assert(a.filters == b.filters)
      else assert(a.country == b.country && a.quarter == b.quarter)
      if (b.kind == "group_toggle") assert(a.filters.copy(bySymbol = b.filters.bySymbol) == b.filters)
    }
  }

  test("the toggle flips the grouping column") {
    val t = generate(5, 80, countries)
    val cols = t.collect { case Step("group_toggle", f, _, _) => f.groupCol }
    assert(cols.sliding(2).forall { case Seq(a, b) => a != b; case _ => true })
  }

  test("tail percentile keeps ten samples beyond it") {
    assert(Stats.tailPercentile(5) == 100.0)
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
  }
}
