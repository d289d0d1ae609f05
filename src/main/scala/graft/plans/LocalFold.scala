package graft.plans

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, BindReferences, Expression, InterpretedMutableProjection,
  InterpretedOrdering, InterpretedProjection, InterpretedUnsafeProjection,
  JoinedRow, NamedExpression, SortOrder, SpecificInternalRow, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, AggregateFunction, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation,
  LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION

/** Finish a driver-held result on the driver. The graph loops, the
  * power iterations and `Moments.local` return their rows as a
  * `LocalRelation`, and the queries end them in a sort or an aggregate,
  * which Spark would plan as two to four jobs (range sample, shuffle
  * map, result) over rows that are already here. This rule evaluates
  * two shapes over a non-streaming `LocalRelation` in place and
  * replaces them by a `LocalRelation` of the same output attributes:
  *
  *   - a global `Sort` whose orders are deterministic, with an
  *     `InterpretedOrdering` bound to the relation's output;
  *   - an `Aggregate` whose expressions are deterministic and whose
  *     aggregate functions are all `DeclarativeAggregate`s without
  *     DISTINCT or FILTER, evaluated the way `AggregationIterator`
  *     does in Complete mode: each function's `initialValues`, then its
  *     `updateExpressions` over (buffer, input row), then its
  *     `evaluateExpression`, all as interpreted projections. Grouping
  *     keys are normalized as the physical aggregate normalizes them
  *     (-0.0 and NaN). A global aggregate over no rows gives one row, a
  *     grouped one none.
  *
  * It then re-applies `ConvertToLocalRelation`, so a `Project`,
  * `Filter` or `Limit` above a folded node folds too. There is no size
  * threshold: the rows are already on the driver. Every other shape
  * (imperative aggregates, DISTINCT, FILTER, nondeterministic or
  * unevaluable expressions, streaming relations) is left to Spark.
  */
object LocalFold extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = {
    val folded = plan.transformUpWithPruning(
        _.containsPattern(LOCAL_RELATION)) {
      case Sort(orders, true, l: LocalRelation, _)
          if !l.isStreaming && orders.forall(o => evaluable(o.child)) =>
        l.copy(data = l.data.sorted(new InterpretedOrdering(orders, l.output)))
      case a @ Aggregate(groups, results, l: LocalRelation, _)
          if !l.isStreaming && (groups ++ results).forall(evaluable) &&
            aggregates(results).forall(declarative) =>
        LocalRelation(a.output, aggregate(groups, results, l))
    }
    if (folded eq plan) plan else convertToFixpoint(folded)
  }

  @scala.annotation.tailrec
  private def convertToFixpoint(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan)
    if (next fastEquals plan) plan else convertToFixpoint(next)
  }

  /** Deterministic, and evaluable once aggregates and attributes are
    * bound (a subquery or a Python UDF is not). */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: Attribute | _: AggregateExpression | _: AggregateFunction |
           _: SortOrder => false
      case _: Unevaluable => true
      case _ => false
    }

  private def aggregates(results: Seq[NamedExpression]) =
    results.flatMap(_.collect { case a: AggregateExpression => a })
      .distinctBy(_.canonicalized)

  private def declarative(a: AggregateExpression): Boolean =
    a.mode == Complete && !a.isDistinct && a.filter.isEmpty &&
      a.aggregateFunction.isInstanceOf[DeclarativeAggregate]

  private def aggregate(groups: Seq[Expression],
                        results: Seq[NamedExpression],
                        l: LocalRelation): Seq[InternalRow] = {
    val aggs = aggregates(results)
    val funcs = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = funcs.flatMap(_.aggBufferAttributes)
    val keys = groups.zipWithIndex.map { case (g, i) =>
      AttributeReference(s"k$i", g.dataType, g.nullable)() }
    val values = aggs.zipWithIndex.map { case (a, i) =>
      AttributeReference(s"a$i", a.dataType, a.nullable)() }
    val keyOf = InterpretedUnsafeProjection.createProjection(
      groups.map(g => BindReferences.bindReference(
        GraftSqlBridge.normalizeFloats(g), l.output)))
    val init = new InterpretedMutableProjection(funcs.flatMap(_.initialValues))
    val update = new InterpretedMutableProjection(
      funcs.flatMap(_.updateExpressions), buffer ++ l.output)
    val evaluate = new InterpretedProjection(
      funcs.map(_.evaluateExpression), buffer)
    // a result expression reads the key it groups by, or an aggregate
    val result = new InterpretedProjection(results.map(_.transformDown {
      case a: AggregateExpression =>
        values(aggs.indexWhere(_.canonicalized == a.canonicalized))
      case e if !e.foldable && groups.exists(_.semanticEquals(e)) =>
        keys(groups.indexWhere(_.semanticEquals(e)))
    }), keys ++ values)
    def fresh() = {
      val b = new SpecificInternalRow(buffer.map(_.dataType))
      init.target(b)(InternalRow.empty)
      b
    }
    val buffers = mutable.LinkedHashMap.empty[InternalRow, InternalRow]
    if (groups.isEmpty) buffers(keyOf(InternalRow.empty).copy()) = fresh()
    val joined = new JoinedRow
    l.data.foreach { row =>
      val k = keyOf(row)
      val b = buffers.getOrElse(k, fresh().tap(buffers(k.copy()) = _))
      update.target(b)(joined(b, row))
    }
    buffers.iterator.map { case (k, b) => result(joined(k, evaluate(b))) }
      .toSeq
  }
}
