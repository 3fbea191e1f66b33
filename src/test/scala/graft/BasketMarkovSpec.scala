package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Hand arithmetic for `basket_part_pairs` and `events_transition_matrix`. */
class BasketMarkovSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("basket pairs: support/confidence/lift on a hand-counted fixture") {
    import spark.implicits._
    // orders 1..3 buy {10, 20}; order 4 buys {10, 30}; order 5 buys {40}
    // n_orders = 5, sup(10)=4, sup(20)=3, sup(30)=1, sup(40)=1
    // pair (10,20): n_both=3 → confidence = 1000*3 div 4 = 750,
    //   lift = 1000*5*3 div (4*3) = 1250; pair (10,30) fails min-support 3
    val rows = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 20L), (4L, 10L), (4L, 30L), (5L, 40L), (3L, 20L)) // dup line collapses
      .toDF("l_orderkey", "l_partkey")
    val tmp = java.nio.file.Files.createTempDirectory("graft-basket")
    rows.write.mode("overwrite").parquet(tmp.resolve("lineitem.parquet").toString)
    val got = SparkEntry.queries("basket_part_pairs")(spark, tmp.toString).collect()
    assert(got.length === 1, s"only (10,20) clears min-support: ${got.toSeq}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) === ((10L, 20L, 3L, 4L, 3L, 750L, 1250L)))
  }

  test("basket plan: rank is TakeOrdered on integer lift, never a global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val q = SparkEntry.queries("basket_part_pairs")(spark, "/root/testdata/sf0.001")
    q.collect()
    val nodes = PlanWalk.nodes(q.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject:\n${q.queryExecution.executedPlan}")
    assert(!nodes.exists {
      case sh: ShuffleExchangeExec =>
        sh.outputPartitioning.toString.contains("rangepartitioning")
      case _ => false
    }, s"global-sort shuffle in plan:\n${q.queryExecution.executedPlan}")
  }

  test("transition matrix: per-user adjacency with deterministic tiebreak") {
    import spark.implicits._
    def ev(id: Long, user: Long, sec: Int, tpe: String) =
      (id, new Timestamp(1767225600000L + sec * 1000L), user, tpe)
    // user 1: view → click → view ; user 2: view → buy
    // transitions: (view,click)=1, (click,view)=1, (view,buy)=1
    // from 'view' total 2 → p = 500 each; others 1000
    val rows = Seq(ev(1, 1, 0, "view"), ev(2, 1, 10, "click"), ev(3, 1, 20, "view"),
      ev(4, 2, 0, "view"), ev(5, 2, 5, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val tmp = java.nio.file.Files.createTempDirectory("graft-markov")
    rows.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    val got = SparkEntry.queries("events_transition_matrix")(spark, tmp.toString)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      ("view", "click") -> ((1L, 2L, 500L)),
      ("view", "buy") -> ((1L, 2L, 500L)),
      ("click", "view") -> ((1L, 1L, 1000L))), s"got $got")
  }
}
