package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, EqualTo, Expression, If, LambdaFunction, Literal, Multiply, NamedLambdaVariable, Size, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.DotProduct

/** Optimizer rule: rewrite the composable higher-order-function dot product
  *
  *   `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)`
  *
  * into the fused native [[graft.functions.DotProduct]] expression — so a
  * user who writes the idiomatic HOF form gets the codegen'd single-loop
  * plan (~10× on the all-pairs cosine workload) without knowing graft's
  * function exists. The rewrite is value-preserving by construction:
  * DotProduct IS the sequential left-to-right f64 fold the HOF performs
  * (documented and differentially spec-pinned at the expression level), and
  * double addition of the same two operands is commutative, so both merge
  * orders are accepted.
  *
  * Conservative guards, each a semantic difference if dropped:
  *  - both inputs must be `array<double>` with `containsNull = false` — a
  *    null ELEMENT nulls the whole HOF result, while the fused loop would
  *    return a number (arrays built from Scala `Seq[Double]` or
  *    `transform(_, cast)` over non-null sources qualify; raw parquet reads
  *    usually declare nullable elements and are deliberately left alone);
  *  - top-level input nullability is fine either way (both forms are
  *    null-propagating there);
  *  - both inputs must be DETERMINISTIC — the guarded rewrite evaluates
  *    them more than once, and a nondeterministic array source could show
  *    the size check and the dot different values;
  *  - the fold zero must be literal 0.0d and the finish lambda the
  *    identity — anything else is not a plain dot product;
  *  - UNEQUAL lengths: `zip_with` pads the shorter array with nulls, so the
  *    HOF result is NULL, while the bare fused loop truncates to
  *    min(length) and returns a number. The rewrite therefore emits
  *    `if(size(a) = size(b), graft_dot(a, b), NULL)` — same answer on every
  *    input, including mismatched dimensions — except when the two inputs
  *    are semantically the same expression, where sizes cannot differ and
  *    the guard is dropped.
  *
  * Installed through `spark.experimental.extraOptimizations` by
  * `GraftExtensions.register`. Idempotent: the rewritten tree no longer
  * matches the pattern.
  */
object DotProductFusion extends Rule[LogicalPlan] {

  private def nonNullDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => !containsNull
    case _ => false
  }

  /** merge lambda is `(acc, v) -> acc + v` in either operand order. */
  private def isSumMerge(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      Set(l.exprId, r.exprId) == Set(a.exprId, v.exprId)
    case _ => false
  }

  /** zip lambda is `(x, y) -> x * y` over exactly its own two variables. */
  private def isProduct(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      Set(l.exprId, r.exprId) == Set(x.exprId, y.exprId)
    case _ => false
  }

  /** finish lambda is the identity `acc -> acc`. */
  private def isIdentityFinish(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      v.exprId == a.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b, zipF: LambdaFunction),
          Literal(0.0, DoubleType),
          mergeF: LambdaFunction,
          finishF: LambdaFunction)
          // deterministic inputs only: the size-guarded form evaluates a/b
          // more than once, and a nondeterministic child could hand the
          // size check and the dot DIFFERENT arrays (advisor round 7)
          if a.deterministic && b.deterministic &&
            nonNullDoubleArray(a) && nonNullDoubleArray(b) &&
            isProduct(zipF) && isSumMerge(mergeF) && isIdentityFinish(finishF) =>
        if (a.semanticEquals(b)) DotProduct(a, b)
        else
          If(EqualTo(Size(a), Size(b)), DotProduct(a, b),
            Literal.create(null, DoubleType))
    }
}
