package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --repo <checkout root> --run <run-scoped scratch dir> --out <result file>
  * }}}
  *
  * Set-up (session, inputs, serving table, warm-up) is timed as
  * `setup_s`; then operations run back to back, one closed-loop client,
  * until `--seconds` have passed. Each operation's outputs are checked
  * after its clock stops. The result (metrics, counts, the host stamp)
  * is written to `--out` as one JSON object.
  */
object Main {

  /** Concurrent clients for the warm-up operations (see [[Workload]]). */
  val WarmupClients = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val repo = Paths.get(a("repo")).toAbsolutePath
    val run = Paths.get(a("run")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val stealBefore = Host.steal()

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = msSinceJvmStart()

    val w = Workloads(workload, spark, seed, repo, run)
    val setups = (1 to w.setupRepeats).map { i =>
      val t = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t) / 1e9
      if (i < w.setupRepeats) w.teardown()
      s
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupClients)
    try (0 until w.warmupOps).map(i => pool.submit(() => w.op(i, NoSpans).check())).foreach(_.get())
    finally pool.shutdown()
    // one more alone, so the JIT's backlog from the concurrent ones drains
    if (w.warmupOps > 0) w.op(w.warmupOps, NoSpans).check()
    val warmupS = msSinceJvmStart() / 1e3 - sessionReady / 1e3 - setups.sum
    val setupS = sessionReady / 1e3 + Stats.median(setups) + warmupS

    val probe = if (traced) Some(new Probe(spark).install()) else None
    val spanner: Spanner = probe.fold[Spanner](NoSpans)(p => new Spanner {
      def apply[T](name: String)(body: => T): T = p.span(name)(body)
    })

    val latencies = mutable.ArrayBuffer.empty[Double]
    val allMs = mutable.ArrayBuffer.empty[Double]
    val opLog = mutable.ArrayBuffer.empty[String]
    val failedCalls = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0; var failed = 0; var knownDefect = 0; var anyFailed = 0; var correct = true
    var outsideJobsMs = 0.0
    val before = probe.map(_.snapshot())
    val filesBefore = w.filesWritten
    val start = System.nanoTime()
    var i = w.warmupOps + 1
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      probe.foreach(_.op = attempted)
      val wallFrom = System.currentTimeMillis()
      val t = System.nanoTime()
      val o = spanner("op")(w.op(i, spanner))
      val ms = (System.nanoTime() - t) / 1e6
      val wallTo = System.currentTimeMillis()
      // the clock has stopped: judge the outputs
      probe.foreach(p => { p.snapshot(); outsideJobsMs += p.outsideJobsMs(wallFrom, wallTo) })
      val v = o.check()
      if (v.wrong.nonEmpty) correct = false
      val all = o.failures ++ v.wrong
      all.map(_._1).distinct.foreach(failedCalls(_) += 1)
      // the known defect is counted apart: it fails a chart, not the run's operation
      val unexpected = all.diff(v.known)
      if (failures.size < 20) unexpected.foreach { case (k, r) => failures += s"op $i $k: $r" }
      attempted += 1
      if (v.known.nonEmpty) knownDefect += 1
      if (all.nonEmpty) anyFailed += 1
      if (unexpected.isEmpty) latencies += ms else failed += 1
      allMs += ms
      opLog += Json.obj(Seq("kind" -> Json.str(w.kind(i)), "ms" -> Json.num(ms),
        "ok" -> unexpected.isEmpty.toString, "known_defect" -> v.known.nonEmpty.toString))
      i += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    // latencies of the successful operations; only when none succeeded
    // (a broken program), of all, so the run still reports `correct`
    val timed = (if (latencies.nonEmpty) latencies else allMs).toSeq
    val p50 = Stats.median(timed)
    val tailP = Stats.tailPercentile(timed.size)

    val metrics: Seq[(String, (Double, String))] = probe match {
      case None => Seq(
        "op_p50_ms" -> (p50, "ms"),
        "op_tail_ms" -> (Stats.percentile(timed, tailP), "ms"),
        "setup_s" -> (setupS, "s"))
      case Some(p) =>
        val ops = math.max(attempted, 1).toDouble
        val after = p.snapshot()
        val d = after - before.get
        val spans = p.allSpans
        def medianMs(pick: String => Boolean): Double = {
          val ms = spans.filter(s => pick(s.name)).map(s => s.end - s.start)
          if (ms.isEmpty) 0.0 else Stats.median(ms)
        }
        p.remove()
        p.writeSpans(run.resolve("spans.jsonl"))
        Seq(
          "trace.op_p50_ms" -> (p50, "ms"),
          "trace.setup_s" -> (setupS, "s"),
          "ops.failed_share" -> (anyFailed / ops, "share"),
          "storage.cache_mb" -> (cachedMb(spark), "MB")) ++
        Layers.Dashboard.flatMap(fn => Seq(
          s"dashboard.${fn}_ms" -> (medianMs(_ == s"queries.Dashboard.$fn"), "ms"),
          s"dashboard.${fn}_failed" -> (failedCalls(fn).toDouble, "count"))) ++
        Layers.PerOp.map { case (k, unit) => k -> (d(k) / ops, unit) } ++
        Seq(
          Counters.Peak -> (after(Counters.Peak), "MB"),
          "driver.outside_jobs_ms" -> (outsideJobsMs / ops, "ms"),
          "io.csv_read_ms" -> (medianMs(_ == "io.CsvDialects"), "ms"),
          "etl.ref_build_ms" -> (medianMs(_ == "etl.StarSchema.ref_build"), "ms"),
          "etl.sf01_build_ms" -> (medianMs(_ == "etl.StarSchema.sf01_build"), "ms"),
          "io.files_written" -> ((w.filesWritten - filesBefore) / ops, "count")) ++
        (1 to 17).map(n => f"dedup.d$n%02d_ms" -> (medianMs(_.startsWith(f"dedup.d$n%02d_")), "ms"))
    }

    val host = Host.stamp(spark, Host.steal() - stealBefore)
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "known_defect_ops" -> knownDefect.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "measured_s" -> Json.num(measuredS),
      "samples" -> timed.size.toString,
      "tail_percentile" -> Json.num(tailP),
      "setup_runs_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "ops" -> opLog.mkString("[", ",", "]"),
      "host" -> host))
    Files.createDirectories(out.getParent)
    Files.write(out, (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  private def msSinceJvmStart(): Double =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  private object NoSpans extends Spanner {
    def apply[T](name: String)(body: => T): T = body
  }
}

/** Which counters the traced run reports, per operation. */
object Layers {
  val Dashboard: Seq[String] = Seq("metric_cards", "stacked_by_quarter", "buy_sell_trend",
    "topk_company", "topk_sector", "topk_industry", "qa_sectors", "qa_industries", "qa_quarters")

  val PerOp: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "aqe.plan_updates" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.job_wall_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "io.bytes_written" -> "bytes",
    "join.sort_merge" -> "count", "join.broadcast_hash" -> "count",
    "join.shuffled_hash" -> "count")
}

/** The host facts every result is stamped with. */
object Host {

  /** Cumulative steal ticks over all CPUs (0 where /proc is absent). */
  def steal(): Long =
    scala.util.Try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
      cpu(8).toLong
    }.getOrElse(0L)

  def stamp(spark: SparkSession, stealTicks: Long): String = {
    val load1 = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble).getOrElse(-1.0)
    Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "load1" -> Json.num(load1),
      "steal_ticks" -> stealTicks.toString))
  }
}
