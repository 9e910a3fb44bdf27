package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{CodegenMode, ExplainMode, FormattedMode, QueryExecution,
  SimpleMode, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** The one bridge into Spark's `private[sql]` and Catalyst-internal API.
  *
  * Wrapping a custom [[LogicalPlan]] node into a user-facing DataFrame
  * requires `Dataset.ofRows`, which Spark scopes `private[sql]` — the
  * standard extension-library pattern (used by every open-source Spark
  * connector that adds whole-plan operators) is a minimal shim compiled
  * into an `org.apache.spark.sql` subpackage. Everything else in this
  * repo stays on public API, and this file is the whole private-API
  * surface, so it stays auditable at a glance:
  *  - [[ofRows]]: a DataFrame over a custom logical plan;
  *  - prepared plans ([[param]], [[cachedInput]], [[prepare]], [[bind]]):
  *    the [[BoundParam]] expression, a cache-entry lookup through the
  *    session's `CacheManager`, a `QueryExecution` whose executed plan is
  *    fixed, and the `classic.Dataset` built over it;
  *  - running a prepared plan: a physical node (`SparkPlan.doExecute`,
  *    `executeCollect`) whose job runs over the RDD the prepared plan
  *    built once, an `RDD` subclass whose tasks install the call's values
  *    until they complete (`TaskContext` completion listener), and
  *    `SparkContext.runJob` with a named function;
  *  - a prepared plan's results: the `InternalRow`s its `executeCollect`
  *    collected, kept by the values bound in the call, so a repeated call
  *    runs no job;
  *  - a prepared plan's descriptions: `QueryExecution.explainString`
  *    overridden, so the physical-plan description that every action
  *    posts with its SQL execution start event is rendered once per
  *    (template, mode, bound values), at most [[MaxDescriptions]] kept per
  *    template, and the rows' `ExpressionEncoder` built once per template
  *    and shared by every Dataset its calls make.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session(spark), plan)

  private def session(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  private val nextParam = new AtomicLong()

  /** `value` (of `dataType`, possibly null) as a bound parameter: a
    * column a plan can be prepared over once and then re-run with other
    * values. */
  def param(value: Any, dataType: DataType): Column = ExpressionUtils.column(
    BoundParam(nextParam.incrementAndGet(), Literal.create(value, dataType).value, dataType))

  private def boundParam(c: Column): BoundParam =
    ExpressionUtils.expression(c).asInstanceOf[BoundParam]

  /** A cache entry, compared by identity: re-caching the same plan makes
    * a new entry, and a plan prepared over the old one must not match. */
  final class CacheEntry private[graftbridge] (val builder: CachedRDDBuilder) {
    override def equals(o: Any): Boolean = o match {
      case e: CacheEntry => e.builder eq builder
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(builder)

    /** The session's `CacheManager` still serves this entry: its scan
      * reads the cache, not a rebuilt copy of it. */
    private[graftbridge] def live(spark: SparkSession): Boolean =
      session(spark).sharedState.cacheManager.lookupCachedData(session(spark), builder.logicalPlan)
        .exists(_.cachedRepresentation.cacheBuilder eq builder)
  }

  /** An input that reads one cached relation. `shape` is its plan over
    * that relation with each parameter's value blanked and its id
    * replaced by its first-occurrence index; `params` are its parameters
    * in plan order. */
  final case class CachedInput(entry: CacheEntry, shape: LogicalPlan, params: Seq[BoundParam])

  private def params(p: LogicalPlan): Seq[BoundParam] =
    p.flatMap(_.expressions.flatMap(_.collect { case b: BoundParam => b }))

  /** The cached relation `df` reads, if the session's `CacheManager`
    * resolves its plan to exactly one `InMemoryRelation` leaf now. */
  def cachedInput(df: DataFrame): Option[CachedInput] = {
    val cm = session(df.sparkSession).sharedState.cacheManager
    lazy val plan = cm.useCachedData(logicalPlan(df))
    if (cm.isEmpty) None
    else plan.collectLeaves() match {
      case Seq(r: InMemoryRelation) =>
        val ps = params(plan)
        val first = ps.map(_.id).distinct.zipWithIndex.toMap
        val shape = plan.transformUp { case m: InMemoryRelation => LocalRelation(m.output) }
          .transformAllExpressions { case b: BoundParam => BoundParam(first(b.id), null, b.dataType) }
        Some(CachedInput(new CacheEntry(r.cacheBuilder), shape, ps))
      case _ => None
    }
  }

  private def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Results kept per prepared plan. A dashboard's widgets bind at most
    * 70 value sets into one template (10 quarter ranges x 7 type sets;
    * the Query Analysis charts take one of 21 countries or 4 quarters),
    * so 128 keeps every state of a session. A result's size is set by
    * its chart, not by the table: k keys x types rows for a top-k,
    * quarters x types for the stacked chart, one row per quarter or per
    * top-k key for the others. Over the reference data that is ≤ 15 rows
    * of ≤ ~100 bytes, so ≤ ~2 KB with its key, and the worst case, all
    * 64 templates full, is 64 x 128 x 2 KB ≈ 16 MB of driver heap. */
  private val MaxResults = 128

  /** Descriptions kept per prepared plan, as (explain mode, values)
    * pairs. A `collect` describes its plan in one mode (the SQL UI's,
    * `formatted` by default), and a widget change alters one value, so a
    * call that repeats an earlier one mostly repeats the previous
    * interaction: 4 keeps the last few value sets, not every state as
    * [[MaxResults]] does. A description prints the table's whole cached
    * plan, so its size is set by the table, not by the chart: over the
    * reference table (measured for the nine charts) a `simple` one is
    * ≤ 26 KB, a `formatted` one ≤ 35 KB (≤ 707 lines) and a `codegen` one
    * ≤ 115 KB. The worst case, all 64 templates full of `codegen` ones,
    * is 64 x 4 x 115 KB ≈ 29 MB of driver heap; of `formatted` ones, the
    * only mode a `collect` renders, ≈ 9 MB. */
  private val MaxDescriptions = 4

  /** The explain modes that print the physical plan alone. A logical
    * plan prints the call's own parameter ids, which [[param]] makes
    * fresh for every call, so only these describe two calls with the
    * same values alike. */
  private val PhysicalModes: Set[ExplainMode] = Set(SimpleMode, CodegenMode, FormattedMode)

  /** A bounded map, least recently used dropped first, safe to share. */
  private final class Lru[K, V](max: Int) {
    private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > max
    }
    def get(k: K): Option[V] = map.synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = map.synchronized(map.put(k, v))
  }

  /** A chart planned once over a cached input: its analyzed plan with the
    * input cut out at `hole`, its physical plan, and the ids of the
    * parameters they carry (the input's, then the chart's own). It
    * builds its rows' encoder once and keeps, by the values bound in a
    * call (parameter id -> value), the descriptions of its calls and,
    * when deterministic, the rows they collected. */
  final class Prepared private[graftbridge] (entry: CacheEntry, hole: LogicalPlan,
      analyzed: LogicalPlan, executed: SparkPlan, ids: Seq[Long], deterministic: Boolean) {

    private[PlanBridge] val results =
      if (deterministic) Some(new Lru[Map[Long, Any], Array[InternalRow]](MaxResults)) else None
    private[PlanBridge] val descriptions = new Lru[(ExplainMode, Map[Long, Any]), String](MaxDescriptions)
    private val encoder = ExpressionEncoder(analyzed.schema)

    /** A DataFrame over `input` (which reads `in`) with the parameters
      * bound to `in`'s values and those of the chart's own [[param]]
      * columns `args`. Builds no Dataset but the returned one and plans
      * nothing: the analyzed plan is the prepared one over `input` with
      * the call's own parameters in place of the prepared ones, and the
      * physical plan is a [[BoundExec]] over the prepared one. So a plan
      * made from the analyzed one (`.rdd`, a further transformation) reads
      * no values installed for a prepared chart's task. */
    def bind(input: DataFrame, in: CachedInput, args: Seq[Column]): DataFrame = {
      val spark = session(input.sparkSession)
      val calls = ids.zip(in.params ++ args.map(boundParam))
      val own = calls.toMap
      val bound = calls.map { case (id, p) => p.copy(id = id) }
      val inPlan = logicalPlan(input)
      spark.withActive {
        val plan = analyzed.transformAllExpressions {
          case b: BoundParam if own.contains(b.id) => own(b.id)
        }.transformUp { case h if h eq hole => inPlan }
        val qe = new PreparedExecution(spark, plan, entry, BoundExec(executed, bound)(this))
        new classic.Dataset[Row](qe, encoder)
      }
    }
  }

  /** Prepares `chart`, built over `inputDf` (which reads `input`) with
    * the chart's own [[param]] columns `args`. The physical plan is not
    * adaptive. Its parameters get ids of their own, which no DataFrame's
    * logical plan holds (not even `chart`'s), so only its own jobs read
    * the values installed under them. None when the chart does not read
    * `input`'s cache entry through exactly one scan, or when the input
    * reads the current time, user or database: the optimizer folds those
    * into literals, which the physical plan would keep for every later
    * call. */
  def prepare(chart: DataFrame, input: CachedInput, inputDf: DataFrame,
      args: Seq[Column]): Option[Prepared] = {
    val spark = session(chart.sparkSession)
    val in = logicalPlan(inputDf)
    val hole = LocalRelation(in.output)
    var found = false
    def cut(p: LogicalPlan): LogicalPlan =
      if (p eq in) { found = true; hole } else p.mapChildren(cut)
    val fresh = (input.params ++ args.map(boundParam))
      .map(_.id -> nextParam.incrementAndGet()).toMap
    val renumber: PartialFunction[Expression, Expression] = {
      case b: BoundParam if fresh.contains(b.id) => b.copy(id = fresh(b.id))
    }
    val qe = chart.queryExecution
    val analyzed = cut(qe.analyzed).transformAllExpressions(renumber)
    val executed =
      QueryExecution.prepareExecutedPlan(spark, qe.sparkPlan.transformAllExpressions(renumber))
    val scans = executed.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    val ids = (input.params ++ args.map(boundParam)).map(p => fresh(p.id))
    if (found && scans.size == 1 && (scans.head eq input.entry.builder) &&
        !input.shape.containsPattern(CURRENT_LIKE)) {
      val deterministic = analyzed.deterministic && input.shape.deterministic
      Some(new Prepared(input.entry, hole, analyzed, executed, ids, deterministic))
    } else None
  }

  /** A query whose plans are given: nothing is analyzed, optimized or
    * planned again. The physical plan scans `entry`, so it is used only
    * if the session still serves that entry when the plan is first read
    * (a DataFrame bound before an `unpersist` and run after it would
    * otherwise rebuild the cache outside the `CacheManager`); else the
    * analyzed plan is planned the ordinary way, and described the
    * ordinary way too. */
  private final class PreparedExecution(spark: classic.SparkSession, plan: LogicalPlan,
      entry: CacheEntry, call: BoundExec) extends QueryExecution(spark, plan) {
    override def analyzed: LogicalPlan = plan
    private lazy val chosen = if (entry.live(spark)) call else super.executedPlan
    override def executedPlan: SparkPlan = chosen
    override def explainString(mode: ExplainMode): String =
      if (chosen eq call) call.describe(mode, super.explainString(mode))
      else super.explainString(mode)
  }

  /** One call of a prepared chart. `child` is the prepared physical plan
    * itself, shared by every call (so explain and plan audits see the
    * real operators), and `params` are the call's values under its ids.
    * A plan builds its RDD once, on its first `execute()`, and keeps it:
    * so each call runs one job over that one RDD, with `params` carried in
    * the job's tasks. `executeCollect` (a `collect`) first looks the
    * values up in the template's results: a hit copies the kept rows and
    * runs no job, and a job's rows are kept only once it succeeds. Every
    * other way of running the plan (`execute`: `toLocalIterator`) runs
    * the job. The call's descriptions are kept the same way: only once
    * its `collect` returns rows. */
  private final case class BoundExec(child: SparkPlan, params: Seq[BoundParam])(
      template: Prepared) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override protected def otherCopyArgs: Seq[AnyRef] = template :: Nil
    override protected def withNewChildInternal(c: SparkPlan): BoundExec =
      copy(child = c)(template)

    private def values: Map[Long, Any] = params.map(p => p.id -> p.value).toMap

    /** The descriptions rendered for this call, by mode, not kept yet. */
    private val described = new java.util.concurrent.ConcurrentHashMap[ExplainMode, String]

    /** This call's description in `mode`, which `render` makes. In a mode
      * that prints the physical plan alone it depends on the values only
      * (the child and its parameter ids are the template's), so the
      * template's kept description of the same values serves it,
      * byte-identical, and the cached plan is not walked again. */
    def describe(mode: ExplainMode, render: => String): String =
      if (!PhysicalModes(mode)) render
      else template.descriptions.get((mode, values)).getOrElse {
        val text = render
        described.put(mode, text)
        text
      }

    override protected def doExecute(): RDD[InternalRow] = new BoundRDD(child.execute(), values)

    override def executeCollect(): Array[InternalRow] = {
      val rows = template.results.flatMap(_.get(values)).map(_.map(_.copy())).getOrElse {
        val rows = sparkContext.runJob(execute(), CollectRows).flatten
        template.results.foreach(_.put(values, rows.map(_.copy())))
        rows
      }
      described.forEach((mode, text) => template.descriptions.put((mode, values), text))
      rows
    }
  }

  /** `prev` with `values` (parameter id -> value) installed for each of
    * its tasks: see [[BoundParam]]. */
  private final class BoundRDD(prev: RDD[InternalRow], values: Map[Long, Any])
      extends RDD[InternalRow](prev) {
    override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      BoundParam.install(values, context)
      firstParent[InternalRow].iterator(split, context)
    }
  }

  /** A task's rows, copied. A named function, not a lambda, so the
    * closure cleaner finds no closure class to read and scan. */
  private object CollectRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    override def apply(c: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }
}

/** A value in a plan that can change between runs of the same prepared
  * plan. It is never foldable, so the optimizer leaves it in place, and
  * its generated code reads the value from this object (through
  * `CodegenFallback`), so code generated for one value compiles once and
  * serves every other. It is always nullable, so a null value can be
  * bound into any plan prepared over it.
  *
  * In a task that installed values (a prepared chart's job), the value
  * is the one installed for `id`, else `value`. Each task runs its own
  * deserialized copy of the plan, so a copy looks its value up once, on
  * its first row. */
case class BoundParam(id: Long, value: Any, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  @transient private lazy val current: Any =
    Option(BoundParam.installed.get).fold(value)(_.getOrElse(id, value))
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = current
  override def toString: String = s"param#$id(${Literal(value, dataType)})"
}

object BoundParam {
  /** The values installed on this thread, or null. */
  private val installed = new ThreadLocal[Map[Long, Any]]

  /** Installs `values` (id -> value) for the task `context` runs on this
    * thread, until it completes. A task computes at most one prepared
    * chart's job: a second install (two charts' RDDs zipped or combined
    * in one task) fails the task, since one chart would read the other's
    * values. */
  private[graftbridge] def install(values: Map[Long, Any], context: TaskContext): Unit = {
    require(installed.get == null,
      "one task cannot compute two prepared charts: their bound values would mix")
    installed.set(values)
    context.addTaskCompletionListener[Unit](_ => installed.remove())
  }
}
