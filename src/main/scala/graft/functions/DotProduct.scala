package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product over two `array<double>` columns — the loop the
  * higher-order `aggregate(zip_with(a, b, (x,y) => x*y), 0d, _+_)`
  * formulation evaluates with a per-row intermediate array and lambda
  * dispatch.
  *
  * NULL semantics are exactly the HOF form's (the rewrite below must be
  * observation-equivalent): `zip_with` pads the shorter array with nulls
  * and `null * x` / `acc + null` poison the fold — so a length mismatch
  * or ANY null element yields NULL, not a partial sum.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dot_product"
  override def dataType: DataType = DoubleType
  // can produce NULL even for non-null array inputs (see above)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: recognize the exact HOF dot-product shape
  *
  *   aggregate(zip_with(a, b, (x, y) => x * y), 0.0d, (acc, v) => acc + v)
  *
  * over `array<double>` inputs and fuse it into [[DotProduct]] — the
  * lambda dispatch and the intermediate zip array disappear from the
  * hot path. Semantics-preserving for ALL inputs, not just clean ones:
  * [[DotProduct]] reproduces the HOF's null contract (null on length
  * mismatch or any null element), so the rewrite is safe to install
  * session-wide even over arrays with `containsNull = true`.
  * Conservative by construction: anything else (different
  * zero, non-identity finish lambda, non-double arrays) is left alone.
  * Installed on every session by `GraftFunctions.install`, so every
  * `Similarity.dot` caller runs fused.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(
                x: NamedLambdaVariable, y: NamedLambdaVariable, _),
                zipArgs, _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(
              p: NamedLambdaVariable, q: NamedLambdaVariable, _),
              mergeArgs, _),
            LambdaFunction(fin: NamedLambdaVariable, finArgs, _))
          if isDoubleArray(a) && isDoubleArray(b) &&
            zipArgs.map(_.exprId).toSet == Set(x, y).map(_.exprId) &&
            mergeArgs.map(_.exprId).toSet == Set(p, q).map(_.exprId) &&
            finArgs.headOption.exists(_.exprId == fin.exprId) =>
        DotProduct(a, b)
    }
}
