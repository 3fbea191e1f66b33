package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

import graft.model.Actions
import graft.streaming.{InventoryStream, KeyedCount}

/** Randomized differential model test of the STREAMING fold — the engine
  * analogue of the reference's accumulating generator oracle
  * (InventoryUpdateEventGenerator.java:54-106, which folds every event it
  * produces through its own updater instance and asserts the pipeline
  * converges to the model's counts, state persisting across rounds).
  *
  * Random keys / actions / deltas / BATCH BOUNDARIES / wire tombstones /
  * malformed payloads / unknown-action removals are driven through the full
  * decode → flatMapGroupsWithState chain over MemoryStream micro-batches;
  * after every batch the last-write-wins consumer view (tombstone = delete,
  * as a compacted-topic reader sees it) must equal [[FoldPropertySpec.foldAllState]]
  * re-run over each key's accumulated event history — the same pure model
  * the batch fold and the algebraic laws in FoldPropertySpec check against.
  */
class StreamFoldPropertySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def keyJson(k: String) = s"""{"productCode":"$k"}"""
  private def valueJson(action: String, delta: Int, k: String) =
    s"""{"delta":$delta,"key":{"productCode":"$k"},"action":"$action"}"""

  /** What one generated wire record is, from the model's point of view. */
  private sealed trait Kind
  /** Folds: INC/DEC/REP. */
  private case class Valid(action: String, delta: Int) extends Kind
  /** Unknown action: folds to a null aggregate → key removed (re-inits at 0
    * if a later event arrives), deletion forwarded as a tombstone. */
  private case object Removal extends Kind
  /** Null record value: dropped before the fold (KGroupedStream contract). */
  private case object WireTombstone extends Kind
  /** Unparseable JSON: from_json yields null struct → dropped like a tombstone. */
  private case object Malformed extends Kind

  private val genKind: Gen[Kind] = Gen.frequency(
    8 -> (for {
      a <- Gen.oneOf(Actions.Inc, Actions.Dec, Actions.Rep)
      d <- Gen.choose(1, 10)
    } yield Valid(a, d)),
    1 -> Gen.const(Removal),
    1 -> Gen.const(WireTombstone),
    1 -> Gen.const(Malformed))

  private val genEvent: Gen[(String, Kind)] = for {
    k <- Gen.choose(0, 4).map(i => s"key$i")
    kind <- genKind
  } yield (k, kind)

  /** One round = one micro-batch's worth of events (may be empty). */
  private val genRound: Gen[List[(String, Kind)]] =
    Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, genEvent))

  private val genScenario: Gen[List[List[(String, Kind)]]] =
    Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, genRound))

  /** Owns one streaming query; feeds rounds, maintains the consumer view and
    * the per-key model history, asserts view == model after every round. */
  private final class Harness {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val input = MemoryStream[WireRecord]
    private val emitted = mutable.ArrayBuffer.empty[(Long, KeyedCount)]
    private val query = InventoryStream.foldStream(InventoryStream.decode(input.toDF()))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyedCount], batchId: Long) =>
        val rows = batch.collect()
        emitted.synchronized { emitted ++= rows.map(batchId -> _) }
        ()
      }
      .start()
    private var offset = 0L
    private val history = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Int)]]
    var roundsRun = 0

    /** Wire encoding of one generated event (offset assigned monotonically;
      * rounds shuffle record order to exercise the in-batch offset sort). */
    private def wire(key: String, kind: Kind): WireRecord = {
      offset += 1
      kind match {
        case Valid(a, d)   => WireRecord(keyJson(key), valueJson(a, d, key), offset)
        case Removal       => WireRecord(keyJson(key), valueJson("DROP_IT", 1, key), offset)
        case WireTombstone => WireRecord(keyJson(key), null, offset)
        case Malformed     => WireRecord(keyJson(key), "{not json", offset)
      }
    }

    def round(events: Seq[(String, Kind)], shuffleSeed: Long): Unit = {
      // model bookkeeping: only records that survive decode reach the fold
      events.foreach {
        case (k, Valid(a, d)) => history.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((a, d))
        case (k, Removal)     => history.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += (("DROP_IT", 1))
        case _                => ()
      }
      val recs = new Random(shuffleSeed).shuffle(events.map { case (k, kind) => wire(k, kind) })
      if (recs.nonEmpty) input.addData(recs)
      query.processAllAvailable()
      val view = emitted.synchronized {
        emitted.sortBy(_._1).map(_._2).foldLeft(Map.empty[String, Int]) { (m, kc) =>
          kc.count match {
            case Some(c) => m + (kc.productCode -> c)
            case None    => m - kc.productCode
          }
        }
      }
      val model = history.toMap.flatMap { case (k, es) =>
        FoldPropertySpec.foldAllState(es.toSeq).map(k -> _)
      }
      roundsRun += 1
      assert(view === model, s"round $roundsRun: view=$view model=$model events=$events")
    }

    def stop(): Unit = query.stop()
  }

  test("differential: generated scenarios (fresh state per scenario)") {
    // forAllNoShrink: ScalaCheck's String shrinker escapes the generator's
    // key domain (raw control chars embedded in the key JSON make the KEY
    // itself unparseable — a different, already-covered drop path), so a
    // shrunk counterexample would misreport the failure. No shrinking.
    val prop = Prop.forAllNoShrink(genScenario) { scenario =>
      val h = new Harness
      try {
        scenario.zipWithIndex.foreach { case (r, i) => h.round(r, i.toLong) }
        true
      } finally h.stop()
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("differential: 100 random rounds accumulate through ONE query's state") {
    // the reference's own strategy: one long-lived topology, the generator's
    // model accumulating across rounds (InventoryUpdateEventGenerator.java:74)
    val rnd = new Random(20260812L)
    def sample[A](g: Gen[A]): A =
      g(Gen.Parameters.default, org.scalacheck.rng.Seed(rnd.nextLong())).get
    val h = new Harness
    try {
      (1 to 100).foreach { i => h.round(sample(genRound), i.toLong) }
      assert(h.roundsRun === 100)
    } finally h.stop()
  }
}
