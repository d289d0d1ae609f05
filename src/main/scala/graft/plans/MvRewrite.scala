package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Transparent materialized-view routing — the classic warehouse
  * planning lever (Goldstein & Larson, SIGMOD 2001 "Optimizing queries
  * using materialized views"): a routed summary table answers a
  * matching aggregate query WITHOUT touching the base table, and the
  * rewrite happens inside the OPTIMIZER, so the consumer keeps writing
  * the plain `groupBy(...).agg(...)` they always wrote. At 100 TB this
  * is the difference between a multi-minute fact-table scan and a
  * milliseconds dimension-sized read for every dashboard refresh.
  *
  * The matcher is deliberately NARROW and conservative — the safety
  * bar for an injected rule that stays installed session-wide:
  *
  *   - the aggregate must group by exactly the routed column and
  *     compute exactly the routed aggregate shapes
  *     (`sum(floor(l_quantity))`, `count(1)` — no DISTINCT, no FILTER
  *     clauses);
  *   - the child tree below the aggregate may contain ONLY
  *     projection/alias nodes above the base-table file scan — any
  *     `Filter` (or join, generator, …) makes the summary unusable
  *     and the plan is left alone;
  *   - the scan's root path must match the routed base-table path
  *     EXACTLY per scale-factor directory, so a summary built from
  *     one dataset can never answer for another.
  *
  * The rewrite preserves the original output `exprId`s (downstream
  * operators — the Sort above, a parent join — keep resolving), and
  * the summary holds final per-group values for a grouping identical
  * to the query's, so the replacement is a pure column mapping with
  * no re-aggregation.
  *
  * Routing is carried on the plan that asks for it: [[route]] wraps
  * the consumer's plan in an [[MvRoute]] marker, and the rule (one of
  * the rules `GraftFunctions.install` puts in every session) rewrites
  * only inside a marker, then strips it. A routed DataFrame therefore
  * routes for as long as it lives, on every re-optimization of its
  * plan (the write path builds a fresh QueryExecution over it), and no
  * other plan — a shape-matching aggregate built beside it, or the
  * summary's own build — is ever routed.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** A summary table and what it answers: base-table path hint
    * (scale-factor specific), the summary's analyzed plan, and its
    * column names. */
  final case class MvDef(basePathHint: String, mv: LogicalPlan,
                         groupCol: String, sumCol: String,
                         countCol: String)

  /** Marker: `child` may be answered from `d`'s summary. Its output is
    * its child's; the rule strips it in the user-optimizer batch, so a
    * session without the rule cannot plan it. */
  final case class MvRoute(d: MvDef, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def stringArgs: Iterator[Any] =
      Iterator(d.basePathHint)
    override protected def withNewChildInternal(
        newChild: LogicalPlan): MvRoute = copy(child = newChild)
  }

  /** `df` with its matching aggregates answered from `d`'s summary. */
  def route(df: DataFrame, d: MvDef): DataFrame =
    GraftSqlBridge.ofRows(df.sparkSession,
      MvRoute(d, df.queryExecution.analyzed))

  /** Only passthrough Project/SubqueryAlias between the aggregate and
    * the scan of the routed base path — anything else (a Filter, a
    * join, a Project that COMPUTES a column) invalidates reuse. On a
    * match, returns the scan relation's output attributes so the
    * caller can resolve the aggregate's references by `exprId`, never
    * by name: a `withColumn("l_quantity", expr)` re-definition mints a
    * NEW exprId for the shadowing alias, so exprId resolution rejects
    * it even though the name still reads "l_quantity". */
  private def scanOutput(p: LogicalPlan,
                         hint: String): Option[Seq[Attribute]] =
    p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[Attribute]) =>
        scanOutput(c, hint)
      case SubqueryAlias(_, c) => scanOutput(c, hint)
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation
            if f.location.rootPaths.exists(_.toString.endsWith(hint)) =>
          Some(l.output)
        case _ => None
      }
      case _ => None
    }

  /** True iff `a` IS (same exprId) the scan's column named `name` —
    * the only evidence that the reference carries the base table's
    * untouched values. */
  private def isScanCol(a: AttributeReference, name: String,
                        scan: Seq[Attribute]): Boolean =
    scan.exists(s => s.exprId == a.exprId && s.name == name)

  /** Classify one aggregate-list entry against the routed shapes:
    * the grouping column itself, sum(floor(l_quantity)), or count(1) —
    * every column reference resolved by exprId against the scan.
    */
  private def shapeOf(e: NamedExpression, d: MvDef,
                      scan: Seq[Attribute]): Option[String] = e match {
    case a: AttributeReference
        if isScanCol(a, d.groupCol, scan) => Some("group")
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Sum(Floor(q: AttributeReference), _)
            if isScanCol(q, "l_quantity", scan) => Some("sum")
        case Count(Seq(Literal(1, _))) => Some("count")
        case _ => None
      }
    case _ => None
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case MvRoute(d, routed) => routed transform {
      case agg @ Aggregate(Seq(g: AttributeReference), aggs, child, _)
          if g.name == d.groupCol =>
        scanOutput(child, d.basePathHint) match {
          case Some(scan)
              if isScanCol(g, d.groupCol, scan)
                && aggs.forall(shapeOf(_, d, scan).isDefined)
                && Seq(d.groupCol, d.sumCol, d.countCol).forall(n =>
                  d.mv.output.exists(_.name == n)) =>
            def mvAttr(n: String): Attribute =
              d.mv.output.find(_.name == n).get
            val proj = aggs.map { orig =>
              val src = shapeOf(orig, d, scan).get match {
                case "group" => mvAttr(d.groupCol)
                case "sum"   => mvAttr(d.sumCol)
                case "count" => mvAttr(d.countCol)
              }
              Alias(src, orig.name)(exprId = orig.exprId)
            }
            Project(proj, d.mv)
          case _ => agg
        }
    }
  }
}
