package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ApproxAndSample, Dedup, InventoryParity, Similarity}

/** Plan-shape pins for the round-16 operators — the scale claims asserted
  * on the FINAL adaptive plan, not prose: keep-best is one hash exchange
  * (the packed-BIGINT argmax adds no pass), cluster-balanced sampling has
  * no Sort/Window (bounded-heap pick), and SCD2's two windows + lead ride
  * ONE key exchange (the (key, seg) window's distribution is satisfied by
  * the key partitioning). */
class NewOpsPlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def hashExchanges(plan: String): Int =
    plan.linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("dedup_keep_best: ONE hash exchange, no Sort, no Window — the " +
      "argmax is the fingerprint groupBy itself") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"w${i % 37} w${i % 11} w$i"))
      .toDF("doc_id", "text")
    val plan = PlanWalk.finalPlan(Dedup.keepBestOn(docs)).toString
    assert(hashExchanges(plan) === 1, s"one exchange on fp:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      s"no window:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("+- Sort") ||
      l.trim.startsWith(":- Sort") || l.trim.startsWith("Sort ")),
      s"no sort:\n$plan")
  }

  test("sample_cluster_balanced: bounded-heap pick — TopKPerGroup present, " +
      "no Sort/Window over the assignment") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sqrt => ssqrt}
    val n = (0L until 300L).map(i =>
        (i, Seq(1.0 + (i % 7), 2.0 + (i % 5), 3.0 + (i % 3))))
      .toDF("vec_id", "e")
      .withColumn("nrm", ssqrt(graft.functions.VectorFunctions
        .dotProduct(col("e"), col("e"))))
    val plan = PlanWalk.finalPlan(ApproxAndSample.clusterBalancedOn(n, 4, 3)).toString
    assert(plan.contains("TopKPerGroup"), s"bounded-heap pick:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      s"no window:\n$plan")
  }

  test("inventory_scd2: the two state windows and the lead ride ONE " +
      "product_code exchange") {
    val out = InventoryParity.scd2.run(spark, "/root/testdata/sf0.001")
    // strip the final presentation orderBy's range exchange from the count:
    // only hash exchanges are the claim
    val plan = PlanWalk.finalPlan(out).toString
    assert(hashExchanges(plan) === 1,
      s"one key-hash exchange shared by both windows + lead:\n$plan")
  }
}
