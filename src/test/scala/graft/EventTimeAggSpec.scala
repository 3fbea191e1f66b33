package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventTimeAgg

final case class TimedEvent(ts: Timestamp, event_type: String, value: Double)

/** Event-time window + watermark semantics over MemoryStream micro-batches:
  * append-mode results equal the batch aggregation of on-time data, and
  * late rows behind the watermark are dropped. The shared session runs the
  * shipped RocksDB state store (the 100 TB state posture: spillable,
  * off-heap); one test pins Spark's in-memory HDFS-backed store so both
  * providers stay covered. */
class EventTimeAggSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def t(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("windowed agg with watermark: append output matches batch, late data dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[TimedEvent]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Timestamp, String, Long, Long)]()
    val q = EventTimeAgg.hourlyByType(input.toDF(), watermark = "10 minutes")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => sink.add((r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))))
        ()
      }
      .start()
    try {
      // hour 0: two clicks, one view
      input.addData(TimedEvent(t(5), "click", 1.25), TimedEvent(t(20), "click", 2.00), TimedEvent(t(40), "view", 3.10))
      q.processAllAvailable()
      // advance event time into hour 2 → watermark passes hour 0, closing it
      input.addData(TimedEvent(t(130), "click", 5.00))
      q.processAllAvailable()
      // a LATE hour-0 event, far behind the watermark → must be dropped
      input.addData(TimedEvent(t(6), "click", 100.00))
      q.processAllAvailable()
      // close hour 2 as well
      input.addData(TimedEvent(t(260), "view", 1.00))
      q.processAllAvailable()
      val got = sink.toArray(Array.empty[(Timestamp, String, Long, Long)]).toSet
      val hour0 = Set(
        (Timestamp.valueOf("2024-01-01 00:00:00"), "click", 2L, 325L),
        (Timestamp.valueOf("2024-01-01 00:00:00"), "view", 1L, 310L))
      val hour2 = Set((Timestamp.valueOf("2024-01-01 02:00:00"), "click", 1L, 500L))
      assert(got === hour0 ++ hour2, "closed windows reflect only on-time data")
    } finally q.stop()
  }

  test("inventory fold runs identically on the HDFS-backed state store provider") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    try {
      val input = MemoryStream[graft.model.OrderedUpdateEvent]
      val results = scala.collection.mutable.Map.empty[String, Int]
      val q = graft.streaming.InventoryStream.foldStream(input.toDS())
        .writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.KeyedCount], _: Long) =>
          b.collect().foreach(kc => results.synchronized { results(kc.productCode) = kc.count.get })
          ()
        }
        .start()
      try {
        input.addData(
          graft.model.OrderedUpdateEvent("p", 1, "INC", 5),
          graft.model.OrderedUpdateEvent("p", 2, "DEC", 2))
        q.processAllAvailable()
        input.addData(graft.model.OrderedUpdateEvent("p", 3, "REP", 9),
          graft.model.OrderedUpdateEvent("q", 4, "INC", 7))
        q.processAllAvailable()
        assert(results.synchronized(results.toMap) === Map("p" -> 9, "q" -> 7))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("file-stream twin of hourly_events matches the batch rollup on the real table") {
    // the round-10 event-time surface: events.ts is a genuine timestamp
    // now, so the SAME physical file drives a watermarked streaming
    // aggregation whose closed-state equals the oracle-checked batch query
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(tmp.toString)
    val agg = EventTimeAgg.hourlyByType(EventTimeAgg.asEventTimeStream(stream))
    val last = new java.util.concurrent.atomic.AtomicReference[Array[org.apache.spark.sql.Row]](Array.empty)
    val q = agg.writeStream
      .outputMode(OutputMode.Complete) // complete: every window, open or closed
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        last.set(b.collect()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = last.get().map(r =>
      (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("hourly_events")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want, "streamed hourly windows must equal the batch rollup")
  }
}
