package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("graft_dot is callable from SQL and matches the Column API") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d").collect().head
    assert(row.getDouble(0) === 32.0)
    // null propagation
    val n = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d").collect().head
    assert(n.isNullAt(0))
    // mismatched lengths: defined as dot over the common prefix
    val p = spark.sql("SELECT graft_dot(array(2.0d, 9.0d), array(3.0d)) AS d").collect().head
    assert(p.getDouble(0) === 6.0)
  }

  test("graft_cosine matches dot/(|a||b|) exactly") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS same,
        |       graft_cosine(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS ortho,
        |       graft_cosine(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS gen""".stripMargin)
      .collect().head
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
    val expected = (1.0 * 3 + 2.0 * 4) / (math.sqrt(1 + 4) * math.sqrt(9 + 16))
    assert(r.getDouble(2) === expected)
  }

  test("graft_char_entropy is callable from SQL, matches the audit form's " +
      "fixed-point values, and null-propagates") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_char_entropy('abcd') AS uniform,
        |       graft_char_entropy('aaaaaaaa') AS degenerate,
        |       graft_char_entropy('') AS empty,
        |       graft_char_entropy(CAST(NULL AS STRING)) AS missing""".stripMargin)
      .collect().head
    assert(r.getLong(0) === 2000L, "uniform over 4 chars = exactly 2 bits")
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === 0L, "empty string is the audit form's 0 sentinel")
    assert(r.isNullAt(3), "the raw SQL expression null-propagates")
  }

  test("register skips what the session already has: a second call leaves " +
      "every registry entry, rule and strategy as it was") {
    GraftExtensions.register(spark)
    val registry = spark.sessionState.functionRegistry
    def entries() = GraftExtensions.functions.map { case (name, _) =>
      registry.lookupFunction(FunctionIdentifier(name)).get }
    val before = entries()
    val (rules, strategies) =
      (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    GraftExtensions.register(spark)
    entries().zip(before).foreach { case (after, first) =>
      assert(after eq first, s"${first.getName} was registered again")
    }
    assert(spark.experimental.extraOptimizations === rules)
    assert(spark.experimental.extraStrategies === strategies)
  }
}
