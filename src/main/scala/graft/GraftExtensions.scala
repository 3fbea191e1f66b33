package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{BpeTokenCount, CharEntropyMilli, DotProduct}

/** graft's session additions: its custom expressions as SQL functions, so
  * `spark.sql("SELECT graft_dot(a, b)")` works next to the Column API, the
  * [[graft.plans.DotProductFusion]] optimizer rule and the
  * [[graft.plans.TopKPerGroupStrategy]] planner strategy. [[register]] is
  * the one way they reach a session: [[Graft.session]] calls it on every
  * session it builds or adopts. */
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

  /** The SQL functions [[register]] installs: (name, builder). */
  private[graft] val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> dotBuilder,
    "graft_cosine" -> cosineBuilder,
    "graft_bpe_count" -> bpeBuilder,
    "graft_char_entropy" -> charEntropyBuilder)

  /** Install graft's SQL functions, optimizer rule and planner strategy on
    * `spark`, skipping each one the session already has — so callers such
    * as [[graft.plans.TopKPerGroup.apply]] may call it on every use. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DotProductFusion))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotProductFusion
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerGroupStrategy
  }
}
