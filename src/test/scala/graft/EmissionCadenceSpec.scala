package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

import graft.model.Actions
import graft.streaming.{InventoryStream, KeyedCount}

/** Emission-cadence parity: the reference coalesces output through its record
  * cache and flushes at `commit.interval.ms=1000` — at most the LATEST value
  * per key reaches the output topic per interval
  * (KafkaStreamsInventoryCountTests.java:86; record-cache semantics). The
  * engine claims `OutputMode.Update` + `Trigger.ProcessingTime("1 second")`
  * is the equivalent (InventoryStream.kafkaPipeline, BASELINE.md). This spec
  * actually drives `foldStream` under the ProcessingTime trigger and pins the
  * claim: per micro-batch (= trigger interval) each key emits AT MOST once,
  * the emitted value is the latest fold state — never an intermediate — and
  * keys not updated in an interval emit nothing.
  *
  * Determinism note: each `addData` round is followed by
  * `processAllAvailable()`, so a round is never split across micro-batches
  * and two rounds never merge into one — the trigger is real but the batch
  * boundaries are pinned, which is what makes the cadence assertion
  * flake-free. */
class EmissionCadenceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def keyJson(k: String) = s"""{"productCode":"$k"}"""
  private def valueJson(action: String, delta: Int, k: String) =
    s"""{"delta":$delta,"key":{"productCode":"$k"},"action":"$action"}"""

  test("ProcessingTime trigger: ≤1 emission per key per trigger, latest value only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WireRecord]
    val emitted = mutable.ArrayBuffer.empty[(Long, KeyedCount)]
    val query = InventoryStream.foldStream(InventoryStream.decode(input.toDF()))
      .writeStream
      .outputMode(OutputMode.Update)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyedCount], batchId: Long) =>
        val rows = batch.collect()
        emitted.synchronized { emitted ++= rows.map(batchId -> _) }
        ()
      }
      .start()
    try {
      var offset = 0L
      val history = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Int)]]
      def wire(k: String, a: String, d: Int): WireRecord = {
        offset += 1
        history.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((a, d))
        WireRecord(keyJson(k), valueJson(a, d, k), offset)
      }
      // Round 1: a burst of 50 events for p and 30 for q inside ONE interval
      // — the reference's record cache would absorb all intermediates and
      // flush exactly one latest count per key.
      val r1 = (1 to 50).map(i => wire("p", if (i % 7 == 0) Actions.Rep else Actions.Inc, i % 10 + 1)) ++
        (1 to 30).map(i => wire("q", if (i % 2 == 0) Actions.Dec else Actions.Inc, i % 5 + 1))
      input.addData(r1)
      query.processAllAvailable()
      // Round 2: only q is updated — p's key must stay silent this interval.
      input.addData((1 to 10).map(i => wire("q", Actions.Inc, i)))
      query.processAllAvailable()
      // Round 3: both keys again.
      input.addData(Seq(wire("p", Actions.Rep, 42), wire("q", Actions.Dec, 1)))
      query.processAllAvailable()

      val byBatch = emitted.synchronized { emitted.toVector }.groupBy(_._1)
      val batches = byBatch.keys.toSeq.sorted
      // Cadence: never two emissions for one key inside one trigger.
      byBatch.foreach { case (bid, rows) =>
        val perKey = rows.groupBy(_._2.productCode).map { case (k, v) => k -> v.size }
        assert(perKey.values.forall(_ == 1),
          s"batch $bid emitted a key more than once: $perKey")
      }
      // Three non-empty data rounds → exactly three emitting batches (empty
      // timer ticks emit nothing in update mode and never reach foreachBatch
      // with rows).
      assert(batches.size == 3, s"expected 3 emitting batches, saw $byBatch")
      val Seq(b1, b2, b3) = batches
      def counts(bid: Long): Map[String, Option[Int]] =
        byBatch(bid).map(r => r._2.productCode -> r._2.count).toMap
      // Latest-value-only: each batch carries the model fold of the FULL
      // history at that point, never an intermediate.
      val pAfter1 = FoldPropertySpec.foldAllState(history("p").toSeq.take(50))
      val qAfter1 = FoldPropertySpec.foldAllState(history("q").toSeq.take(30))
      assert(counts(b1) === Map("p" -> pAfter1, "q" -> qAfter1))
      // Update-mode silence: p unchanged in round 2 → absent from batch 2.
      assert(counts(b2).keySet === Set("q"), s"untouched key re-emitted: ${counts(b2)}")
      assert(counts(b3) === Map(
        "p" -> FoldPropertySpec.foldAllState(history("p").toSeq),
        "q" -> FoldPropertySpec.foldAllState(history("q").toSeq)))
    } finally query.stop()
  }
}
