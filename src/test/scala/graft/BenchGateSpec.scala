package graft

/** The bench iteration gate is what decides whether an official BENCH
  * number is evidence about the plan or about a co-tenant — it has to be
  * right on both axes (CPU loadavg AND hypervisor steal), so the pure
  * decision function gets direct coverage here, next to the published-
  * number policy and the executed-plan helper the plan mains read
  * through.
  */
class BenchGateSpec extends SparkSpecBase {

  private val g = Bench.LoadGate

  test("CPU axis: iterations over the load gate at start OR end are unclean") {
    assert(Bench.iterClean(1.0, g - 1, g - 1))
    assert(!Bench.iterClean(1.0, g + 1, g - 1))
    assert(!Bench.iterClean(1.0, g - 1, g + 1))
  }

  test("missing signals pass their axis; failures are never clean") {
    // loadavg unavailable (-1) or steal unavailable (-1) → no gating
    // signal on that axis
    assert(Bench.iterClean(1.0, -1.0, -1.0))
    assert(Bench.iterClean(1.0, g - 1, g - 1, -1.0))
    // a failed iteration (sec = -1 sentinel) is unclean regardless
    assert(!Bench.iterClean(-1.0, 0.0, 0.0, 0.0))
  }

  test("steal axis: hypervisor-contended iterations are unclean; no signal passes") {
    // round-12 calibration: a host co-tenant measured 10–22% steal while
    // loadavg sat at 2 — streaming entries ran 4–6× slow with zero
    // signal on the CPU axis
    assert(!Bench.iterClean(1.0, g - 1, g - 1, 0.15))
    assert(Bench.iterClean(1.0, g - 1, g - 1, 0.02))
    assert(Bench.iterClean(1.0, g - 1, g - 1, -1.0))
    // the jiffies reader yields a usable sample on this box, and the
    // fraction of two ordered samples is within [0, 1]
    val a = Bench.cpuJiffies()
    Thread.sleep(60)
    val b = Bench.cpuJiffies()
    assert(a._1 >= 0 && a._2 > 0, s"no /proc/stat signal: $a")
    val f = Bench.stealFrac(a, b)
    assert(f >= 0.0 && f <= 1.0, s"steal fraction out of range: $f")
  }

  test("published min is min-of-warm; cleanliness corroborates, never selects") {
    // Contention can only INFLATE an iteration — the min over warm
    // iterations is the tightest upper bound on the plan's cost, and a
    // clean iteration within CorroborationSlack of it certifies the
    // rate was demonstrated in a quiet window.
    // r12 signature: every base iteration contended (q58 9.95 s) while
    // the plan's clean time is 0.28 s — once a retry lands clean, the
    // headline is the warm min, corroborated
    val (sec, clean, n) = Bench.publishedMin(
      Seq(9.95, 10.2, 11.0, 0.31, 0.28), Seq(false, false, false, true, true))
    assert(sec == 0.28 && clean && n == 2)
    // no clean iteration within budget → still the warm min, but
    // flagged uncorroborated (the number may carry contention tax)
    val (sec2, clean2, n2) = Bench.publishedMin(
      Seq(9.95, 10.2), Seq(false, false))
    assert(sec2 == 10.2 && !clean2 && n2 == 0)
    // single-iteration degenerate: nothing warm to prefer
    val (sec2b, clean2b, _) = Bench.publishedMin(Seq(9.95), Seq(false))
    assert(sec2b == 9.95 && !clean2b)
    // a faster warm iteration IS published even when only a slower one
    // is clean — but the slower clean one cannot corroborate it (r14
    // q87 signature inverted: under min-of-clean-warm a consistent
    // 0.82–0.92 s warm band was discarded for a 4.83 s clean cold run)
    val (sec3, clean3, _) = Bench.publishedMin(
      Seq(1.0, 0.20, 0.60), Seq(false, false, true))
    assert(sec3 == 0.20 && !clean3)
    // clean within the slack → corroborated
    val (sec3b, clean3b, _) = Bench.publishedMin(
      Seq(1.0, 0.80, 0.85), Seq(false, false, true))
    assert(sec3b == 0.80 && clean3b)
    // any failure is the sentinel regardless of clean flags
    val (sec4, clean4, n4) = Bench.publishedMin(
      Seq(-1.0, 0.30), Seq(false, true))
    assert(sec4 == -1.0 && clean4 && n4 == 0)
  }

  test("published min never reports the cold first run when warm ones exist") {
    // r13 signature (q61): iteration 0 is the once-per-JVM layout BUILD
    // (4.30 s, gate-clean because the box was quiet); the headline must
    // be the warm rate regardless of which iterations were clean
    val (sec, clean, n) = Bench.publishedMin(
      Seq(4.30, 0.55, 0.53), Seq(true, true, true))
    assert(sec == 0.53 && clean && n == 3)
    // cold-clean + warm-contended: publish the warm rate, flagged
    // uncorroborated — the 4.30 s build corroborates nothing at 0.55 s
    val (sec2, clean2, n2) = Bench.publishedMin(
      Seq(4.30, 0.55), Seq(true, false))
    assert(sec2 == 0.55 && !clean2 && n2 == 1)
    // a clean COLD iteration at the same rate as the warm min DOES
    // corroborate (no layout build: iteration 0 samples the plan too)
    val (sec3, clean3, _) = Bench.publishedMin(
      Seq(0.84, 0.82, 1.9), Seq(true, false, false))
    assert(sec3 == 0.82 && clean3)
  }

  test("corroboration is a two-sided band: a faster clean cold run " +
      "does not certify a slower published warm min") {
    // r14 advisory: a clean cold 0.5 s under a contended warm 1.0 s
    // proves the published number is LOOSER than demonstrated — it must
    // not flag the entry corroborated/clean; the gate keeps retrying
    val (sec, clean, n) = Bench.publishedMin(
      Seq(0.5, 1.0, 1.05), Seq(true, false, false))
    assert(sec == 1.0 && !clean && n == 1)
    // once a clean warm iteration lands at the published rate, the
    // same series corroborates
    val (sec2, clean2, _) = Bench.publishedMin(
      Seq(0.5, 1.0, 1.05, 0.98), Seq(true, false, false, true))
    assert(sec2 == 0.98 && clean2)
  }

  test("executed-plan helper yields the final adaptive plan at sf0.001") {
    val df = SparkEntry.queries("q01_topk_filter_agg")(spark, sf0001)
    // before it runs, the adaptive plan is a placeholder
    assert(df.queryExecution.executedPlan.toString.contains("isFinalPlan=false"))
    val p = PlanAudit.executed(df).executedPlan.toString
    InternalCaches.releaseAll(); spark.catalog.clearCache()
    assert(p.contains("isFinalPlan=true") && !p.contains("isFinalPlan=false"),
      s"helper left the plan pre-adaptive:\n$p")
  }
}
