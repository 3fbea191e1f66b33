package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{BpeTokenCount, CharEntropyMilli, DotProduct}

/** Session extension registering graft's custom expressions as SQL
  * functions, so `spark.sql("SELECT graft_dot(a, b)")` works next to the
  * Column API. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or call
  * [[GraftExtensions.register]] on an existing session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.DotProductFusion)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, Multiply, Sqrt}

  private[graft] val dotBuilder: Seq[Expression] => Expression =
    exprs => DotProduct(exprs(0), exprs(1))

  /** cosine(a, b) = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) — composed
    * from the codegen'd dot product with the same parenthesization the
    * oracle-checked queries use, so SQL callers get bit-identical scores. */
  private[graft] val cosineBuilder: Seq[Expression] => Expression =
    exprs => Divide(
      DotProduct(exprs(0), exprs(1)),
      Multiply(Sqrt(DotProduct(exprs(0), exprs(0))), Sqrt(DotProduct(exprs(1), exprs(1)))))

  /** graft_bpe_count(text) — greedy subword token count, [[BpeTokenCount]]. */
  private[graft] val bpeBuilder: Seq[Expression] => Expression =
    exprs => BpeTokenCount(exprs(0))

  /** graft_char_entropy(text) — fixed-point char-entropy milli-bits,
    * [[CharEntropyMilli]] (null text → null here, the raw expression; the
    * Column/gate form adds the COALESCE-0 sentinel). Exactly one argument
    * — extra ones would be silently ignored (a typo'd precision/base arg
    * must not produce plausible-but-wrong numbers), and zero would die as
    * an opaque IndexOutOfBounds instead of an analysis error. */
  private[graft] val charEntropyBuilder: Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != 1)
        throw new org.apache.spark.sql.AnalysisException(
          "USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            s"graft_char_entropy takes exactly 1 argument, got ${exprs.length}"),
          None)
      CharEntropyMilli(exprs(0))
    }

  /** The SQL functions, read by both the `spark.sql.extensions` injection
    * ([[GraftExtensions#apply]]) and [[register]]: (name, implementing
    * expression class, builder). */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], dotBuilder),
    ("graft_cosine", classOf[DotProduct], cosineBuilder),
    ("graft_bpe_count", classOf[BpeTokenCount], bpeBuilder),
    ("graft_char_entropy", classOf[CharEntropyMilli], charEntropyBuilder))

  /** Imperative registration for sessions built without the extension. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    // imperative twins of injectOptimizerRule / injectPlannerStrategy for
    // adopted sessions
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DotProductFusion))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotProductFusion
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerGroupStrategy
  }
}
