package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Generates docs/PLAN_AUDIT.md: one row per catalog query with the
  * physical-plan facts that matter at 100 TB — how many exchanges
  * (shuffles) the plan pays, how many joins are broadcast vs shuffled,
  * whether top-k compiles to TakeOrderedAndProject, and the
  * whole-stage-codegen span count. Regenerate with
  * `sbt "runMain graft.PlanAudit"`.
  *
  * This is the catalog-wide complement to docs/PLANS.md (full plans for
  * flagships): the audit can't drift from the code because it is read
  * off the live executedPlan.
  */
object PlanAudit {

  /** Every operator of the FINAL physical plan, each instance once.
    * Descends AQE wrappers (to the final plan), query stages, reused
    * exchanges (to the exchange they reuse, so a reused shuffle is
    * counted once) and subqueries. A persisted input counts as its
    * `InMemoryTableScan`: the cached frame's own plan is not walked,
    * since it runs once for every plan that reads it. */
  private[graft] def finalOperators(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = Seq.newBuilder[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.finalPhysicalPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      (kids ++ p.subqueries).foreach(visit)
    }
    visit(root)
    out.result()
  }

  /** Key under which [[operatorCounts]] counts Window nodes with NO
    * partition spec, on top of their "Window" count. */
  private val OnePartitionWindow = "Window (no partition)"

  /** Per-operator counts of the final plan ([[finalOperators]]), keyed
    * by node name, except: shuffles by partitioning ("Exchange
    * hashpartitioning", "Exchange rangepartitioning"), codegen spans as
    * "WholeStageCodegen", and single-partition windows also under
    * [[OnePartitionWindow]]. The one way the audit and PlanBudgetSpec
    * count operators. */
  private[graft] def operatorCounts(root: SparkPlan): Map[String, Int] =
    finalOperators(root).flatMap {
      case e: ShuffleExchangeExec => Seq(e.outputPartitioning match {
        case _: HashPartitioning => "Exchange hashpartitioning"
        case _: RangePartitioning => "Exchange rangepartitioning"
        case _ => e.nodeName
      })
      case _: WholeStageCodegenExec => Seq("WholeStageCodegen")
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.nodeName, OnePartitionWindow)
      case p => Seq(p.nodeName)
    }.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Single-partition Window nodes in the final plan — the "No Partition
    * Defined for Window operation" class. At 100 TB an unpartitioned
    * window is a one-task total sort, so the count is a first-class
    * audit column (round-13 verdict item 5): the only tolerated
    * instances are the documented parity-mode windows over ≤7-row
    * DIMENSION frames (§7.4 policy; scale path `denseIdsBy`), and
    * PlanBudgetSpec pins the allowlist so a new one fails CI. */
  private[graft] def onePartitionWindows(p: SparkPlan): Int =
    operatorCounts(p).getOrElse(OnePartitionWindow, 0)

  /** Run `df`'s OWN QueryExecution (its executedPlan's RDD, every
    * operator) and return it, so its plan is the FINAL adaptive plan:
    * AQE's coalesced exchanges, runtime join strategies and reused
    * stages. A `df.write` or `df.count()` would execute a different,
    * internal QueryExecution and leave this one pre-adaptive
    * (`isFinalPlan=false`). The one way the plan mains read plans. */
  private[graft] def executed(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.QueryExecution = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count(): Unit
    qe
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-plan-audit")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb ++= "# Catalog plan audit (generated)\n\n"
    sb ++= "Generated by `sbt \"runMain graft.PlanAudit\"` from live physical plans\n"
    sb ++= s"at sf0.001 — do not edit by hand.\n\n"
    sb ++= "Counts are of the outer final plan, each operator once (AQE stages,\n"
    sb ++= "reused exchanges and subqueries included); a persisted input counts as\n"
    sb ++= "its scan, not as the cached frame's own plan.\n\n"
    sb ++= "`Exch` = hash- and range-partitioned shuffles (AQE may coalesce at runtime),\n"
    sb ++= "`BHJ` = broadcast hash joins, `SMJ` = sort-merge joins,\n"
    sb ++= "`BNLJ` = broadcast nested-loop (intended: tiny broadcast side only),\n"
    sb ++= "`TopK` = TakeOrderedAndProject, `WSCG` = whole-stage-codegen spans,\n"
    sb ++= "`1pW` = Window nodes with NO partition spec (one-task total sort —\n"
    sb ++= "tolerated only on documented ≤7-row parity-dimension frames;\n"
    sb ++= "PlanBudgetSpec pins the allowlist).\n\n"
    sb ++= "| query | Exch | BHJ | SMJ | BNLJ | TopK | WSCG | 1pW |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val row =
        try {
          val c = operatorCounts(executed(fn(spark, dir)).executedPlan)
          def n(op: String) = c.getOrElse(op, 0)
          val exch = n("Exchange hashpartitioning") + n("Exchange rangepartitioning")
          s"| $name | $exch | ${n("BroadcastHashJoin")} | ${n("SortMergeJoin")} | " +
            s"${n("BroadcastNestedLoopJoin")} | ${n("TakeOrderedAndProject")} | " +
            s"${n("WholeStageCodegen")} | ${n(OnePartitionWindow)} |"
        } catch {
          case e: Throwable => s"| $name | (plan failed: ${e.getClass.getSimpleName}) | | | | | | |"
        }
      sb ++= row + "\n"
      spark.catalog.clearCache()
    }
    sb ++= "\nReading guide: a dashboard-style query should be 1–3 Exch with all\n"
    sb ++= "dim joins as BHJ; SMJ appears only on fact-to-fact edges; BNLJ only\n"
    sb ++= "where a broadcast single-row/query-set side is attached; 1pW only\n"
    sb ++= "on the allowlisted parity-dimension entries.\n"
    Files.createDirectories(Paths.get("docs"))
    Files.write(Paths.get("docs/PLAN_AUDIT.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println("wrote docs/PLAN_AUDIT.md")
    spark.stop()
  }
}
