package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

import graft.model.Actions
import graft.streaming.{InventoryStream, KeyedCount}

/** A record as it would arrive off the Kafka wire: JSON key, JSON value
  * (null = tombstone), offset standing in for (partition, offset). */
final case class WireRecord(key: String, value: String, offset: Long)

/** Streaming parity suite ≈ the reference's embedded-broker tests
  * (KafkaStreamsInventoryCountTests.java:111-173) replayed over
  * MemoryStream micro-batches: same generator distribution, same
  * last-write-wins convergence assertion, plus cross-batch state
  * accumulation and tombstone rounds. */
class InventoryStreamSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def keyJson(k: String) = s"""{"productCode":"$k"}"""
  private def valueJson(action: String, delta: Int, k: String) =
    s"""{"delta":$delta,"key":{"productCode":"$k"},"action":"$action"}"""

  /** Runs rounds of wire records through the full decode→fold chain; after
    * each round asserts the last-write-wins view equals the expectation
    * computed by the caller (mirroring the reference's convergence
    * consumer, KafkaStreamsInventoryCountTests.java:175-188). */
  private def runRounds(rounds: Seq[Seq[WireRecord]])(
      check: (Int, Map[String, Int]) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WireRecord]
    val emitted = mutable.ArrayBuffer.empty[(Long, KeyedCount)]
    val query = InventoryStream.foldStream(InventoryStream.decode(input.toDF()))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyedCount], batchId: Long) =>
        val rows = batch.collect()
        emitted.synchronized { emitted ++= rows.map(batchId -> _) }
        ()
      }
      .start()
    try {
      rounds.zipWithIndex.foreach { case (round, i) =>
        if (round.nonEmpty) input.addData(round)
        query.processAllAvailable()
        val latest = emitted.synchronized {
          emitted.sortBy(_._1).map(_._2).foldLeft(Map.empty[String, Int]) {
            // a forwarded tombstone (count=None) deletes the key from the
            // consumer's last-write-wins view, as a compacted-topic reader would
            (m, kc) => kc.count match {
              case Some(c) => m + (kc.productCode -> c)
              case None    => m - kc.productCode
            }
          }
        }
        check(i, latest)
      }
    } finally query.stop()
  }

  test("single key, cold start: 3 events converge to the model count") {
    val events = Seq((Actions.Inc, 5), (Actions.Dec, 2), (Actions.Inc, 4))
    val expected = FoldPropertySpec.foldAll(events.map { case (a, d) => (a, d) })
    val wire = events.zipWithIndex.map { case ((a, d), i) =>
      WireRecord(keyJson("key0"), valueJson(a, d, "key0"), i.toLong)
    }
    runRounds(Seq(wire)) { (_, latest) => assert(latest === Map("key0" -> expected)) }
  }

  test("state accumulates across micro-batches (two rounds)") {
    val r1 = Seq((Actions.Inc, 5), (Actions.Rep, 3), (Actions.Inc, 2))
    val r2 = Seq((Actions.Dec, 4), (Actions.Inc, 1))
    val after1 = FoldPropertySpec.foldAll(r1)
    val after2 = FoldPropertySpec.foldAll(r2, init = after1)
    val mk = (es: Seq[(String, Int)], base: Int) => es.zipWithIndex.map { case ((a, d), i) =>
      WireRecord(keyJson("key0"), valueJson(a, d, "key0"), (base + i).toLong)
    }
    runRounds(Seq(mk(r1, 0), mk(r2, 100))) { (round, latest) =>
      if (round == 0) assert(latest === Map("key0" -> after1))
      else assert(latest === Map("key0" -> after2))
    }
  }

  test("10 keys x 5 events x 2 rounds, randomized, tombstone round is a no-op") {
    val rnd = new Random(7)
    val acts = Array(Actions.Inc, Actions.Dec, Actions.Rep)
    var offset = 0L
    val state = mutable.Map.empty[String, Int].withDefaultValue(0)
    def round(): (Seq[WireRecord], Map[String, Int]) = {
      val recs = for (k <- 0 until 10; _ <- 0 until 5) yield {
        val (a, d) = (acts(rnd.nextInt(3)), 1 + rnd.nextInt(10))
        val key = s"key$k"
        state(key) = Actions.update(state(key), a, d).get
        offset += 1
        WireRecord(keyJson(key), valueJson(a, d, key), offset)
      }
      (rnd.shuffle(recs), state.toMap)
    }
    val (w1, e1) = round()
    // tombstones for key0..key9 (InventoryUpdateEventGenerator.reset():59-67)
    val tombs = (0 until 10).map { k => offset += 1; WireRecord(keyJson(s"key$k"), null, offset) }
    val (w2, e2) = round()
    val expect = Seq(e1, e1, e2)
    runRounds(Seq(w1, tombs, w2)) { (i, latest) => assert(latest === expect(i), s"round $i") }
  }

  test("unknown action removes the key (reference null-aggregate contract)") {
    val wire = Seq(
      WireRecord(keyJson("p"), valueJson(Actions.Inc, 5, "p"), 1),
      WireRecord(keyJson("p"), """{"delta":1,"key":{"productCode":"p"},"action":"NOPE"}""", 2),
      WireRecord(keyJson("q"), valueJson(Actions.Inc, 9, "q"), 3))
    // key p's state is removed and its deletion is forwarded as a tombstone
    // (dropped from the last-write-wins view); key q is unaffected.
    runRounds(Seq(wire)) { (_, latest) => assert(latest === Map("q" -> 9)) }
  }

  test("out-of-order arrival within a batch folds in offset order") {
    val wire = Seq(
      WireRecord(keyJson("p"), valueJson(Actions.Rep, 7, "p"), 2),
      WireRecord(keyJson("p"), valueJson(Actions.Inc, 100, "p"), 1)) // offset 1 first
    // fold order by offset: INC 100 (→100) then REP 7 (→7)
    runRounds(Seq(wire)) { (_, latest) => assert(latest === Map("p" -> 7)) }
  }

  test("output wire format matches the reference (embedded key null)") {
    import spark.implicits._
    val counts = Seq(KeyedCount("key0", Some(42))).toDS()
    val row = InventoryStream.encode(counts).collect().head
    assert(row.getString(0) === """{"productCode":"key0"}""")
    assert(row.getString(1) === """{"count":42,"key":null}""") // Jackson-style null field
  }

  test("a removal encodes as a Kafka tombstone (null record value)") {
    import spark.implicits._
    val counts = Seq(KeyedCount("key0", None)).toDS()
    val row = InventoryStream.encode(counts).collect().head
    assert(row.getString(0) === """{"productCode":"key0"}""")
    assert(row.isNullAt(1), "KTable deletion must forward as (key, null), not JSON")
  }
}
