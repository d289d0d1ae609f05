package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  IsNotNull, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan-fingerprint materialized-artifact routing — the iterative
  * sibling of [[MvRewrite]]'s aggregate matcher. MvRewrite recognizes
  * ONE fixed aggregate shape; this rule recognizes an ARBITRARY
  * routed subplan by semantic plan equality (`sameResult`, i.e.
  * canonicalized-plan comparison — exprIds, alias names, and other
  * cosmetic differences normalized away) and substitutes the landed
  * artifact's scan for the whole subtree.
  *
  * Why it exists: a 100-TB graph pipeline lands the output of an
  * expensive ITERATIVE computation (LPA labels, SCC components, an
  * ANN index) once and answers every downstream query from the
  * artifact. The consumer keeps writing the derivation — the
  * optimizer proves "this subtree IS the routed derivation" and
  * swaps in the scan, so a k16-style quality score never re-runs the
  * k8 label loop (three times over, once per reference, since
  * DataFrame reuse clones the subtree).
  *
  * Matching detail: the rule runs in the user-optimizer batch, AFTER
  * the main optimizer has normalized the query side — by then a
  * derivation subtree under a join has picked up INFERRED IsNotNull
  * filters on its join keys (InferFiltersFromConstraints), so it no
  * longer equals the standalone-optimized derivation. The route
  * therefore carries one candidate per expected inferred-filter form
  * ([[ArtifactRewrite.candidates]]: the plain plan plus its
  * notNull-filtered variants), and a match against a filtered
  * candidate re-applies the same IsNotNull conjunction ON TOP of the
  * artifact scan — the substitution is exactly the matched subtree's
  * semantics, not a superset.
  *
  * Safety rules, same bar as MvRewrite:
  *   - `sameResult` on OPTIMIZED plans on both sides — a subtree that
  *     differs in ANY semantic way (different round count, different
  *     edge filter, different source path) cannot match;
  *   - output arity must agree, and the substitution maps the
  *     artifact's columns POSITIONALLY under the matched subtree's
  *     original `exprId`s (canonicalized output order is part of
  *     `sameResult`), so downstream resolution is untouched;
  *   - routing is carried on the consumer's plan, as in MvRewrite:
  *     [[route]] wraps it in an [[ArtRoute]] marker, and the rule
  *     substitutes only inside a marker, then strips it — so routing
  *     lives exactly as long as the plan that asked for it.
  */
object ArtifactRewrite extends Rule[LogicalPlan] {

  /** One routing candidate: the optimized derivation plan
    * it answers for, the analyzed plan of the landed table holding the
    * derivation's result, and the positions of output columns whose
    * IsNotNull filter must be re-applied on the substitution (because
    * `src` is the notNull-filtered variant of the derivation). */
  final case class ArtDef(src: LogicalPlan, mv: LogicalPlan,
                          notNullCols: Seq[Int])

  /** Marker: subtrees of `child` may be answered from `defs`. Its
    * output is its child's; the rule strips it in the user-optimizer
    * batch, so a session without the rule cannot plan it. */
  final case class ArtRoute(defs: Seq[ArtDef], child: LogicalPlan)
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def stringArgs: Iterator[Any] =
      Iterator(s"${defs.length} candidates")
    override protected def withNewChildInternal(
        newChild: LogicalPlan): ArtRoute = copy(child = newChild)
  }

  /** `df` with every subtree matching one of `defs` answered from its
    * landed artifact. */
  def route(df: DataFrame, defs: Seq[ArtDef]): DataFrame =
    GraftSqlBridge.ofRows(df.sparkSession,
      ArtRoute(defs, df.queryExecution.analyzed))

  /** Build the candidate set for one derivation: the plain optimized
    * plan, plus — for each named column — the optimized plan of the
    * derivation filtered to that column being non-null (the form a
    * join on that column leaves behind after filter inference). Pass
    * every column a consumer may join on. */
  def candidates(derivation: DataFrame, mv: DataFrame,
                 joinCols: Seq[String]): Seq[ArtDef] = {
    val mvPlan = mv.queryExecution.analyzed
    require(derivation.columns.length == mvPlan.output.length,
      s"artifact arity ${mvPlan.output.length} != derivation arity " +
        s"${derivation.columns.length} — positional substitution " +
        "would silently truncate")
    val plain = ArtDef(derivation.queryExecution.optimizedPlan,
      mvPlan, Nil)
    val filtered = joinCols.map { c =>
      val idx = derivation.columns.indexOf(c)
      require(idx >= 0, s"unknown join column $c")
      ArtDef(derivation.filter(derivation(c).isNotNull)
          .queryExecution.optimizedPlan, mvPlan, Seq(idx))
    }
    plain +: filtered
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case ArtRoute(defs, routed) => routed transformUp {
      case p if p.resolved && defs.exists(a =>
          p.output.length == a.src.output.length &&
            p.output.length == a.mv.output.length &&
            p.sameResult(a.src)) =>
        // the guard proved a match exists; re-find it once (cheap —
        // canonicalized forms are cached per plan instance)
        val a = defs.find(x =>
          p.output.length == x.src.output.length &&
            p.output.length == x.mv.output.length &&
            p.sameResult(x.src)).get
        // fresh relation instance PER SUBSTITUTION SITE (round-8
        // fix): inserting the same analyzed mv instance at several
        // matched sites (k16 references the derivation three times)
        // put identical attribute exprIds on multiple join legs — a
        // shape DeduplicateRelations exists to prevent. A landed
        // artifact's analyzed plan is the bare file relation, which
        // is MultiInstanceRelation — newInstance() re-mints its
        // output ids; anything else falls back to the in-place plan.
        val mv: LogicalPlan = a.mv match {
          case m: org.apache.spark.sql.catalyst.analysis
              .MultiInstanceRelation =>
            m.newInstance().asInstanceOf[LogicalPlan]
          case other => other
        }
        val proj: Seq[NamedExpression] =
          p.output.zip(mv.output).map { case (o, m) =>
            Alias(m, o.name)(exprId = o.exprId)
          }
        val base: LogicalPlan =
          if (a.notNullCols.isEmpty) mv
          else Filter(
            a.notNullCols.map(i => IsNotNull(mv.output(i)))
              .reduce[org.apache.spark.sql.catalyst.expressions
                .Expression](And(_, _)),
            mv)
        Project(proj, base)
    }
  }
}
