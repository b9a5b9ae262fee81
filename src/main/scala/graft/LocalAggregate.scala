package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, GenericInternalRow,
  InterpretedUnsafeProjection, JoinedRow, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.types._

/** Folds an exact aggregate over a small local relation into the local
  * relation of its result, so aggregating a driver-resident frame (the
  * lineage edges and links, a collected result, a `count()`) runs no Spark
  * job. Spark already folds Project, Filter and Limit over a
  * `LocalRelation` (`ConvertToLocalRelation`) and collects a local scan
  * without a job; aggregates still planned two.
  *
  * The result is computed with the functions' own declarative
  * `initialValues`/`updateExpressions`/`evaluateExpression`, bound and
  * evaluated interpreted, so it is the value Spark's plan returns. That
  * holds only where the value cannot depend on how Spark splits the rows,
  * so the rule fires only when every function is exact: `count`; `min`,
  * `max` and `sum` over an integral or decimal input; `avg` over a decimal
  * or an integral input narrower than `long` (its sum is a double, exact
  * while below 2^53: 2^31 × [[MaxRows]] is 2^47). No DISTINCT, no FILTER,
  * deterministic expressions, and grouping keys that group by their binary
  * form. Anything else, an evaluation error included (an ANSI overflow),
  * keeps Spark's plan, which then fails or answers as before. */
object LocalAggregate extends Rule[LogicalPlan] {

  /** Largest local relation folded on the driver. */
  val MaxRows = 65536

  /** Adds the rule to `spark`'s optimizer once; O(1) after that, since every
    * [[Tables]] read calls it. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this)) ex.synchronized {
      if (!ex.extraOptimizations.contains(this)) ex.extraOptimizations :+= this
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a @ Aggregate(keys, results, l: LocalRelation, _) if !l.isStreaming &&
          l.data.length <= MaxRows && keys.forall(k => binaryKey(k.dataType)) &&
          a.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) &&
          results.forall(_.collect { case ae: AggregateExpression => ae }.forall(exact)) =>
        try fold(a, l) catch { case NonFatal(_) => a }
    }

  private def exact(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: Count => true
      case f @ (_: Min | _: Max | _: Sum) => f.children.head.dataType match {
        case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
        case _ => false
      }
      case f: Average => f.child.dataType match {
        case ByteType | ShortType | IntegerType | _: DecimalType => true
        case _ => false
      }
      case _ => false
    })

  /** Spark normalises -0.0 and NaN in float keys while planning, and groups
    * collated strings by collation key; the fold's keys are binary rows. */
  private def binaryKey(t: DataType): Boolean = t match {
    case FloatType | DoubleType => false
    case s: StringType => s == StringType
    case ArrayType(e, _) => binaryKey(e)
    case st: StructType => st.fields.forall(f => binaryKey(f.dataType))
    case _ => true
  }

  private def fold(a: Aggregate, l: LocalRelation): LogicalPlan = {
    val PhysicalAggregation(keys, aggs, results, _) = a
    val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufAttrs = fns.flatMap(_.aggBufferAttributes)
    val init = fns.flatMap(_.initialValues)
    val update = fns.flatMap(_.updateExpressions)
      .map(BindReferences.bindReference(_, bufAttrs ++ l.output))
    val evaluate = fns.map(f => BindReferences.bindReference(f.evaluateExpression, bufAttrs))
    val result = results.map(BindReferences.bindReference(_: Expression,
      keys.map(_.toAttribute) ++ aggs.map(_.resultAttribute)))
    val keyOf = InterpretedUnsafeProjection.createProjection(
      keys.map(BindReferences.bindReference(_: Expression, l.output)))
    val bufs = scala.collection.mutable.LinkedHashMap.empty[InternalRow, Array[Any]]
    def buffer(k: InternalRow) = bufs.getOrElseUpdate(k, init.map(_.eval()).toArray)
    // a global aggregate answers one row even over no input
    if (keys.isEmpty) buffer(keyOf(InternalRow.empty).copy())
    l.data.foreach { row =>
      val buf = buffer(keyOf(row).copy())
      update.map(_.eval(new JoinedRow(new GenericInternalRow(buf), row))).copyToArray(buf)
    }
    LocalRelation(a.output, bufs.toSeq.map { case (k, buf) =>
      val aggRow = new GenericInternalRow(evaluate.map(_.eval(new GenericInternalRow(buf))).toArray)
      new GenericInternalRow(result.map(_.eval(new JoinedRow(k, aggRow))).toArray): InternalRow
    })
  }
}
