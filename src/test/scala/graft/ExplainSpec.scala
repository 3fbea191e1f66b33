package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Explain` masks the ids a JVM counts up (expression, plan, RDD and
  * lambda ids, JVM lambda classes), so its text depends on the code and
  * the data only. */
class ExplainSpec extends AnyFunSuite {
  private def line(expr: Int, lambda: Int, plan: Int, rdd: Int, cls: String): String =
    s"Project [transform(xs#${expr}L, lambdafunction((lambda x_$lambda#${expr + 1}L + 1), " +
      s"lambda x_$lambda#${expr + 1}L, false)) AS ys#$expr], [plan_id=$plan], " +
      s"MapPartitionsRDD[$rdd], graft.operators.Multimodal$$$$$$Lambda$$$cls"

  test("two plans that differ only in JVM-counted ids print the same masked text") {
    val a = Explain.masked(line(12, 5, 7, 9005, "7381/0x00007f0845b183d0@1c4956ec"))
    val b = Explain.masked(line(340, 61, 88, 12, "7326/0x00007f9259c63520@5381c2b3"))
    assert(a === b)
    assert(a === "Project [transform(xs#NL, lambdafunction((lambda x_N#NL + 1), " +
      "lambda x_N#NL, false)) AS ys#N], [plan_id=N], " +
      "MapPartitionsRDD[N], graft.operators.Multimodal$$$Lambda")
  }
}
