package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.model.{Actions, OrderedUpdateEvent}
import graft.operators.InventoryFold

/** Differential tests of the batch fold formulations against the pure
  * foldLeft model — the reference's own test strategy (a generator applies
  * the same updater it expects the pipeline to apply, SURVEY.md §5),
  * upgraded to seeded randomized property runs. */
class InventoryFoldSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val actions = Array(Actions.Inc, Actions.Dec, Actions.Rep)

  /** Mirrors InventoryUpdateEventGenerator.doGenerateEvents: random delta in
    * [1,10], uniform action, keyN key shapes. */
  private def genEvents(rnd: Random, numberKeys: Int, eventsPerKey: Int): Seq[OrderedUpdateEvent] = {
    var order = 0L
    for {
      k <- 0 until numberKeys
      _ <- 0 until eventsPerKey
    } yield {
      order += 1
      OrderedUpdateEvent(s"key$k", order, actions(rnd.nextInt(3)), 1 + rnd.nextInt(10))
    }
  }

  private def model(events: Seq[OrderedUpdateEvent]): Map[String, Long] =
    events.groupBy(_.productCode).map { case (k, es) =>
      k -> Actions.foldAll(es.sortBy(_.eventOrder).map(e => (e.action, e.delta))).toLong
    }

  private def runWindowFold(events: Seq[OrderedUpdateEvent]): Map[String, Long] = {
    val df = events.toDS().toDF()
      .selectExpr("productCode as product_code", "eventOrder as event_order", "action", "delta")
    InventoryFold.fold(df).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("window fold matches foldLeft model on randomized rounds (10 seeds)") {
    for (seed <- 1 to 10) {
      val rnd = new Random(seed)
      val events = genEvents(rnd, numberKeys = 1 + rnd.nextInt(10), eventsPerKey = 1 + rnd.nextInt(20))
      // shuffle input rows: arrival order must come from event_order, not row order
      val shuffled = rnd.shuffle(events)
      assert(runWindowFold(shuffled) === model(events), s"seed=$seed")
    }
  }

  test("REP discards all prior history") {
    val events = Seq(
      OrderedUpdateEvent("p", 1, Actions.Inc, 5),
      OrderedUpdateEvent("p", 2, Actions.Dec, 2),
      OrderedUpdateEvent("p", 3, Actions.Rep, 7),
      OrderedUpdateEvent("p", 4, Actions.Inc, 1))
    assert(runWindowFold(events) === Map("p" -> 8L))
  }

  test("no REP means pure signed sum; trailing REP wins outright") {
    val noRep = Seq(
      OrderedUpdateEvent("p", 1, Actions.Inc, 5),
      OrderedUpdateEvent("p", 2, Actions.Dec, 9))
    assert(runWindowFold(noRep) === Map("p" -> -4L))
    val repLast = noRep :+ OrderedUpdateEvent("p", 3, Actions.Rep, 3)
    assert(runWindowFold(repLast) === Map("p" -> 3L))
  }
}
