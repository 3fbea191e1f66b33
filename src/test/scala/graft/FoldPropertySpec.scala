package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Actions, OrderedUpdateEvent}
import graft.operators.InventoryFold

/** ScalaCheck properties for the INC/DEC/REP fold: algebraic laws of the
  * pure model (cheap, 200 cases) and a differential property of the Spark
  * window formulation against the model (15 generated streams — each case
  * is a Spark job). Complements the seeded rounds in InventoryFoldSpec with
  * generator-driven shapes (empty groups, single REP, long tails...). */
class FoldPropertySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val genAction = Gen.oneOf(Actions.Inc, Actions.Dec, Actions.Rep)
  private val genEvent = for {
    a <- genAction
    d <- Gen.choose(1, 10)
  } yield (a, d)
  private val genSeq = Gen.listOf(genEvent)

  private def check(p: Prop, cases: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  test("model law: a REP makes everything before it irrelevant") {
    check(Prop.forAll(genSeq, genSeq, Gen.choose(1, 10)) { (before, after, rep) =>
      FoldPropertySpec.foldAll(before ++ ((Actions.Rep, rep) +: after)) ==
        FoldPropertySpec.foldAll((Actions.Rep, rep) +: after)
    }, 200)
  }

  test("model law: without REP the fold is the signed sum (order-free)") {
    val noRep = Gen.listOf(for {
      a <- Gen.oneOf(Actions.Inc, Actions.Dec)
      d <- Gen.choose(1, 10)
    } yield (a, d))
    check(Prop.forAll(noRep) { evs =>
      val signed = evs.map { case (a, d) => if (a == Actions.Inc) d else -d }.sum
      FoldPropertySpec.foldAll(evs) == signed &&
        FoldPropertySpec.foldAll(evs.reverse) == signed
    }, 200)
  }

  test("model law: fold is prefix-composable (state carries across rounds)") {
    check(Prop.forAll(genSeq, genSeq) { (r1, r2) =>
      FoldPropertySpec.foldAll(r1 ++ r2) == FoldPropertySpec.foldAll(r2, init = FoldPropertySpec.foldAll(r1))
    }, 200)
  }

  test("differential: Spark window fold equals the model on generated streams") {
    import spark.implicits._
    val genStream = for {
      nKeys <- Gen.choose(1, 6)
      perKey <- Gen.listOfN(nKeys, Gen.choose(0, 15))
      events <- Gen.sequence[Seq[Seq[(String, Int)]], Seq[(String, Int)]](
        perKey.map(n => Gen.listOfN(n, genEvent)))
    } yield events.zipWithIndex.flatMap { case (evs, k) =>
      evs.zipWithIndex.map { case ((a, d), i) =>
        OrderedUpdateEvent(s"key$k", i.toLong * nKeys + k + 1, a, d)
      }
    }
    check(Prop.forAll(genStream) { events =>
      val model = events.groupBy(_.productCode).map { case (k, es) =>
        k -> FoldPropertySpec.foldAll(es.sortBy(_.eventOrder).map(e => (e.action, e.delta))).toLong
      }
      val df = scala.util.Random.shuffle(events).toDS().toDF()
        .selectExpr("productCode as product_code", "eventOrder as event_order", "action", "delta")
      val got = InventoryFold.fold(df).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      got == model
    }, 15)
  }
}

/** The reference fold over a whole event sequence, the model the fold
  * specs check every batch and streaming formulation against. */
object FoldPropertySpec {
  /** Removal-aware fold of a whole event sequence: the differential model
    * for [[graft.streaming.InventoryStream.foldGroup]] including the
    * unknown-action path. `None` = the key is removed from the table (a
    * null aggregate in the reference, KGroupedStream.aggregate contract);
    * a LATER event re-initializes from the initializer's count=0 — never
    * from the stale value. */
  def foldAllState(events: Seq[(String, Int)], init: Option[Int] = None): Option[Int] =
    events.foldLeft(init) { case (st, (action, delta)) =>
      Actions.update(st.getOrElse(0), action, delta)
    }

  /** Order-sensitive foldLeft of a whole event sequence — the differential
    * model used by tests (mirrors InventoryUpdateEventGenerator.java:74-106).
    * Delegates to [[foldAllState]], so removal semantics (reset to 0, not
    * keep-stale) match the streaming fold exactly; a trailing removal folds
    * to the initializer's 0. */
  def foldAll(events: Seq[(String, Int)], init: Int = 0): Int =
    foldAllState(events, Some(init)).getOrElse(0)
}
