package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dumps `.explain("formatted")` evidence files for named catalog
  * queries — the per-round optimization artifact under `plans/r<N>/`
  * (round-14 deliverable: `<query>_before.txt` / `<query>_after.txt`
  * for every query an optimization touched).
  *
  * Usage: `runMain graft.PlanExplain <outDir> <suffix> <query...>`
  * (suffix = "before" | "after"). Each query runs through
  * [[PlanAudit.executed]] so the dump carries the FINAL adaptive plan —
  * AQE's coalesced exchanges, runtime join strategy changes and reused
  * stages are what the bench actually pays. The formatted plan is
  * appended too: it is where `PushedFilters` / `ReadSchema` read
  * cleanest.
  *
  * Times the noop run as a convenience breadcrumb (NOT bench
  * methodology — no warm iterations, no gate; use `graft.Bench` for
  * numbers). */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanExplain <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = GraftSession.local("plan-explain")
    try {
      Bench.warmUp(spark, sfDir)
      names.foreach { name =>
        val fn = SparkEntry.benchQueries.getOrElse(name,
          sys.error(s"unknown catalog query: $name"))
        spark.sparkContext.setJobDescription(s"plan-explain: $name")
        val df = fn(spark, sfDir)
        val t0 = System.nanoTime()
        val qe = PlanAudit.executed(df)
        val sec = (System.nanoTime() - t0) / 1e9
        val formatted = qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val fin = qe.executedPlan.toString
        val body =
          s"""== $name ($suffix) @ $sfDir ==
             |single-run noop wall: ${f"$sec%.2f"}s (breadcrumb only; bench numbers come from graft.Bench)
             |
             |== Executed (final adaptive) plan ==
             |$fin
             |== Formatted plan ==
             |$formatted""".stripMargin
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        System.err.println(f"[plan] $name%-34s $sec%6.2fs -> ${name}_$suffix.txt")
        InternalCaches.releaseAll()
        spark.catalog.clearCache()
      }
    } finally spark.stop()
  }
}
