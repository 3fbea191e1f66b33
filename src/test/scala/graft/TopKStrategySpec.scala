package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerGroup

/** The injected SparkStrategy end to end: plan shape (custom exec present;
  * no Sort, no Window; the one clustered exchange survives) and
  * value-identity with the window row_number form it replaces.
  *
  * All cases run over parquet-backed relations — over a local Seq,
  * ConvertToLocalRelation folds projections before user rules/strategies
  * matter and the assertion would be vacuous (same trap note as
  * DotProductFusionSpec). */
class TopKStrategySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Parquet-backed (group, score, tie) rows with real duplicate scores
    * (quantity has few distinct values → heavy ties per flag). */
  private def scored = {
    GraftExtensions.register(spark)
    Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("grp"),
      col("l_quantity").cast("double").as("score"),
      col("l_orderkey").as("tie"))
  }

  test("plans through the strategy: exec node, clustered exchange, no Sort/Window") {
    val df = TopKPerGroup(scored, Seq(col("grp")), col("score"), col("tie"), 7)
    df.collect() // finalize any adaptive planning before reading the plan
    val plan = df.queryExecution.executedPlan.toString
    // "TopKPerGroup" is a substring of "TopKPerGroupPartial": detect the
    // FINAL node as an occurrence not followed by "Partial"
    assert("TopKPerGroup(?!Partial)".r.findFirstIn(plan).isDefined,
      s"final exec missing:\n$plan")
    assert(plan.contains("TopKPerGroupPartial"),
      s"map-side partial phase must plan below the exchange:\n$plan")
    assert(plan.contains("hashpartitioning(grp"),
      s"group clustering must come from the declared distribution:\n$plan")
    assert(!plan.contains("Sort"), s"top-k must not pay a sort:\n$plan")
    assert(!plan.contains("Window"), s"top-k must not pay a window:\n$plan")
  }

  test("value-identity with the window row_number form, duplicate scores included") {
    import org.apache.spark.sql.expressions.Window
    val k = 7
    val viaStrategy = TopKPerGroup(scored, Seq(col("grp")), col("score"), col("tie"), k)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("tie"))
    val viaWindow = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaStrategy === viaWindow)
    assert(viaStrategy.nonEmpty)
    // the fixture really exercises tie-breaking
    val tied = viaWindow.groupBy(t => (t._1, t._2)).values.count(_.size > 1)
    assert(tied > 0, "fixture must contain duplicate scores within a group")
  }

  test("partial-phase flush keeps correctness when groups exceed the cap") {
    // each of two input partitions holds more distinct groups than the
    // partial phase buffers: every group's two rows per partition straddle
    // a flush, so the partial phase emits every row and the final phase
    // must reduce them
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.expressions.Window
    GraftExtensions.register(spark)
    val groups = 70000L
    assert(groups > graft.plans.TopKPerGroupExec.MaxPartialGroups)
    val rows = spark.range(0L, 4 * groups, 1L, 2)
      .select((col("id") % groups).as("grp"),
        (col("id") * 7919L % 1000L).cast("double").as("score"), col("id").as("tie"))
    val top = TopKPerGroup(rows, Seq(col("grp")), col("score"), col("tie"), 1)
    val viaStrategy = top.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("tie"))
    val viaWindow = rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(viaStrategy === viaWindow)
    assert(viaWindow.size === groups)
    val shuffled = PlanStages.collect(top.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
    }.sum
    assert(shuffled > 2 * groups,
      s"the partial phase must flush: $shuffled partial rows for $groups groups")
  }

  test("NaN scores agree with the window form (ordered above every value)") {
    import org.apache.spark.sql.expressions.Window
    // 0/0 cosines surface as NaN in real retrieval pipelines; Spark's sort
    // ranks NaN above all doubles, and the heap must do the same whether
    // the NaN arrives before or after the heap fills
    val withNaN = scored.withColumn("score",
      when(col("tie") % 11 === 0, lit(Double.NaN)).otherwise(col("score")))
    val k = 5
    val viaStrategy = TopKPerGroup(withNaN, Seq(col("grp")), col("score"), col("tie"), k)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("tie"))
    val viaWindow = withNaN.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(viaStrategy === viaWindow)
    assert(viaWindow.nonEmpty)
  }

  test("LONG scores rank natively, including negatives and mixed signs") {
    import org.apache.spark.sql.expressions.Window
    // integer milli-scores (tfidf_keywords' shape): score stays BIGINT end
    // to end; negatives exercise the sign handling of the long path
    val longScored = scored.withColumn("score",
      ((col("score") * 1000).cast("long") - lit(25000L)))
    val k = 6
    val viaStrategy = TopKPerGroup(longScored, Seq(col("grp")), col("score"), col("tie"), k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("tie"))
    val viaWindow = longScored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaStrategy === viaWindow)
    // negatives are heap-offered (and compared against positives) even
    // though only the largest scores survive to the output
    assert(longScored.filter(col("score") < 0).count() > 0,
      "fixture must exercise negative long scores")
  }

  test("LONG scores above 2^53 rank exactly where a double cast would collapse") {
    // adjacent longs past 2^53 are indistinguishable as doubles — the old
    // cast-to-double workaround would tie them and let the tie-break pick
    // the WRONG row; the native long path must order them exactly
    val base = 1L << 60
    val big = scored.withColumn("score", lit(base) + col("tie")) // distinct per tie
    val viaStrategy = TopKPerGroup(big, Seq(col("grp")), col("score"), col("tie"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // exact expectation: top-3 scores per group = 3 largest (base + tie)
    val expected = big.select(col("grp"), col("score")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).iterator
      .flatMap { case (_, rows) => rows.sortBy(r => -r._2).take(3) }.toSet
    assert(viaStrategy === expected)
    // the doubles really do collapse at this magnitude (guards the premise)
    assert((base + 1L).toDouble === (base + 2L).toDouble)
  }

  test("rejects non-DOUBLE non-BIGINT scores at planning") {
    val bad = scored.withColumn("score", col("score").cast("int"))
    val e = intercept[IllegalArgumentException] {
      TopKPerGroup(bad, Seq(col("grp")), col("score"), col("tie"), 3).collect()
    }
    assert(e.getMessage.contains("DOUBLE or BIGINT"))
  }

  test("respects k per group and drops null scores") {
    val withNulls = scored
      .withColumn("score", when(col("tie") % 3 === 0, lit(null)).otherwise(col("score")))
    val got = TopKPerGroup(withNulls, Seq(col("grp")), col("score"), col("tie"), 4)
      .collect()
    assert(got.forall(!_.isNullAt(1)), "null scores are non-candidates")
    val perGroup = got.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perGroup.values.forall(_ <= 4))
    assert(perGroup.values.exists(_ === 4), "populous groups must fill k")
  }
}

/** Plan traversal that descends into adaptive query stages. */
private object PlanStages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
