package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}

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
  *    fixed, and the `classic.Dataset` built over it.
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
    * replaced by its first-occurrence index; `ids` and `values` are its
    * parameters in plan order. */
  final case class CachedInput(entry: CacheEntry, shape: LogicalPlan,
      ids: Seq[Long], values: Seq[Any])

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
        Some(CachedInput(new CacheEntry(r.cacheBuilder), shape, ps.map(_.id), ps.map(_.value)))
      case _ => None
    }
  }

  private def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** A chart planned once over a cached input: its analyzed plan with the
    * input cut out at `hole`, its physical plan, and the ids of the
    * parameters they carry (the input's, then the chart's own). */
  final class Prepared private[graftbridge] (entry: CacheEntry, hole: LogicalPlan,
      analyzed: LogicalPlan, executed: SparkPlan, ids: Seq[Long]) {

    /** A DataFrame over `input` (which reads `in`) with the parameters
      * bound to `in`'s values and those of the chart's own [[param]]
      * columns `args`. Builds no Dataset but the returned one and plans
      * nothing: both plans are copies of the prepared ones. */
    def bind(input: DataFrame, in: CachedInput, args: Seq[Column]): DataFrame = {
      val spark = session(input.sparkSession)
      val byId = ids.zip(in.values ++ args.map(boundParam(_).value)).toMap
      def rebind[T <: QueryPlan[T]](p: T): T = p.transformAllExpressions {
        case b: BoundParam if byId.contains(b.id) => b.copy(value = byId(b.id))
      }
      val inPlan = logicalPlan(input)
      spark.withActive {
        val plan = rebind(analyzed).transformUp { case h if h eq hole => inPlan }
        val qe = new PreparedExecution(spark, plan, entry, rebind(executed.clone()))
        new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(plan.schema): Encoder[Row])
      }
    }
  }

  /** Prepares `chart`, built over `inputDf` (which reads `input`) with
    * the chart's own [[param]] columns `args`. The physical plan is not
    * adaptive. None when the chart does not read `input`'s cache entry
    * through exactly one scan. */
  def prepare(chart: DataFrame, input: CachedInput, inputDf: DataFrame,
      args: Seq[Column]): Option[Prepared] = {
    val spark = session(chart.sparkSession)
    val in = logicalPlan(inputDf)
    val hole = LocalRelation(in.output)
    var found = false
    def cut(p: LogicalPlan): LogicalPlan =
      if (p eq in) { found = true; hole } else p.mapChildren(cut)
    val qe = chart.queryExecution
    val analyzed = cut(qe.analyzed)
    val executed = QueryExecution.prepareExecutedPlan(spark, qe.sparkPlan)
    val scans = executed.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    val argIds = args.map(boundParam(_).id)
    if (found && scans.size == 1 && (scans.head eq input.entry.builder))
      Some(new Prepared(input.entry, hole, analyzed, executed, input.ids ++ argIds))
    else None
  }

  /** A query whose plans are given: nothing is analyzed, optimized or
    * planned again. The physical plan scans `entry`, so it is used only
    * if the session still serves that entry when the plan is first read
    * (a DataFrame bound before an `unpersist` and run after it would
    * otherwise rebuild the cache outside the `CacheManager`); else the
    * analyzed plan is planned the ordinary way. */
  private final class PreparedExecution(spark: classic.SparkSession, plan: LogicalPlan,
      entry: CacheEntry, physical: SparkPlan) extends QueryExecution(spark, plan) {
    override def analyzed: LogicalPlan = plan
    private lazy val chosen = if (entry.live(spark)) physical else super.executedPlan
    override def executedPlan: SparkPlan = chosen
  }
}

/** A value in a plan that can change between runs of the same prepared
  * plan. It is never foldable, so the optimizer leaves it in place, and
  * its generated code reads the value from this object (through
  * `CodegenFallback`), so code generated for one value compiles once and
  * serves every other. It is always nullable, so a null value can be
  * bound into any plan prepared over it. */
case class BoundParam(id: Long, value: Any, dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param#$id($value)"
}
