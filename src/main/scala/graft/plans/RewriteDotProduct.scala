package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.DotProduct

/** Optimizer rule: rewrite the declarative dot-product fold
  *
  *   `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v)`
  *
  * to the codegen'd [[graft.functions.DotProduct]] expression. The
  * declarative form is what a user naturally writes, but higher-order
  * functions run interpreted outside whole-stage codegen and allocate a
  * zipped array per row — measured 89× slower on the embedding near-dup
  * join (SURVEY §9.1). With this rule injected, the natural spelling gets
  * the tight primitive loop automatically.
  *
  * The rewrite is exact, not approximate: `DotProduct` reproduces the
  * fold's accumulation order (left-to-right from +0.0 — IEEE addition is
  * commutative per-operation but NOT associative, so order is part of the
  * contract) and its null semantics (unequal lengths → null, any null
  * element → null). Guards:
  *  - both inputs are `array<double>` (no implicit cast is hidden here);
  *  - the zip lambda is exactly `x * y` over the two zip variables (either
  *    order — one IEEE multiply is commutative);
  *  - the fold zero is literal +0.0 (−0.0 would differ on all-(−0.0)
  *    inputs) and the merge is exactly `acc + v` (either order);
  *  - the finish lambda is the identity.
  *
  * Injection: [[GraftExtensions]], at session build (`graft.Verify.session`
  * passes it to `withExtensions`; a platform-built session names it in
  * `spark.sql.extensions`).
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isPlusZero(e: Expression): Boolean = e match {
    case Literal(v: Double, DoubleType) =>
      java.lang.Double.doubleToRawLongBits(v) == 0L
    case _ => false
  }

  private def isArrayOfDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** f is literally one of its two lambda variables `op` the other. */
  private def isBinOpOfOwnArgs(
      args: Seq[NamedExpression], body: Expression,
      extract: Expression => Option[(Expression, Expression)]): Boolean =
    (args, extract(body)) match {
      case (Seq(a: NamedLambdaVariable, b: NamedLambdaVariable),
            Some((l: NamedLambdaVariable, r: NamedLambdaVariable))) =>
        (l.exprId == a.exprId && r.exprId == b.exprId) ||
          (l.exprId == b.exprId && r.exprId == a.exprId)
      case _ => false
    }

  private def mul(e: Expression): Option[(Expression, Expression)] = e match {
    case m: Multiply => Some((m.left, m.right))
    case _ => None
  }

  private def add(e: Expression): Option[(Expression, Expression)] = e match {
    case a: Add => Some((a.left, a.right))
    case _ => None
  }

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    // aggregate() without an explicit finish analyzes to an identity
    // LambdaFunction, which the case above accepts — so anything else is a
    // real transformation (e.g. `s -> sqrt(s)` for an L2 norm) and the
    // rewrite must NOT fire, or the finish would be silently dropped.
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION)) {
      case agg @ ArrayAggregate(
          ZipWith(a, b, LambdaFunction(mulBody, mulArgs, _)),
          zero,
          LambdaFunction(addBody, addArgs, _),
          finish)
        if isArrayOfDouble(a) && isArrayOfDouble(b) && isPlusZero(zero) &&
          isBinOpOfOwnArgs(mulArgs, mulBody, mul) &&
          isBinOpOfOwnArgs(addArgs, addBody, add) &&
          isIdentity(finish) =>
        DotProduct(a, b)
    }
}
