package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.InventoryStream

/** Inventory update events in the reference generator's mix: INC/DEC/REP
  * uniform, delta uniform in 1..10, product code `key<i>`. Popularity over
  * a fixed catalogue is Zipf-skewed; `fresh` draws codes never used before. */
final class EventSource(seed: Long, catalogue: Int, zipfExponent: Double) {
  private val rnd = new SplittableRandom(seed)
  private val rankToCode: Array[Int] = {
    val a = Array.tabulate(catalogue)(identity)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(catalogue)(r => 1.0 / math.pow(r + 1.0, zipfExponent))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private var nextFresh = catalogue

  def hot(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    rankToCode(math.min(if (i >= 0) i else -i - 1, catalogue - 1))
  }
  def fresh(): Int = { nextFresh += 1; nextFresh - 1 }
  def action(): Int = rnd.nextInt(3)
  def delta(): Int = 1 + rnd.nextInt(10)
  /** Every catalogue code once, in a seeded order. */
  def catalogueCodes: Array[Int] = rankToCode.clone()
}

/** Feeds events to a MemoryStream as Kafka wire rows (key, value, partition,
  * offset) and keeps the log of everything sent, in send order, for the
  * independent fold. MemoryStream advances its offset once per `addData`
  * call, so each call ("tick") is one unit of the offset-to-latency mapping. */
final class Feeder(val input: MemoryStream[(String, String, Int, Long)], partitions: Int) {
  val codes = new mutable.ArrayBuilder.ofInt
  val actions = new mutable.ArrayBuilder.ofByte
  val deltas = new mutable.ArrayBuilder.ofByte
  private val nextOffset = Array.fill(partitions)(0L)
  var sent = 0L

  /** Send one tick; returns the MemoryStream offset the tick was assigned. */
  def send(batch: Array[(Int, Int, Int)]): Long = {
    val rows = batch.map { case (code, action, delta) =>
      codes += code; actions += action.toByte; deltas += delta.toByte
      val p = code % partitions
      val off = nextOffset(p); nextOffset(p) += 1
      (Feeder.keyJson(code), Feeder.valueJson(code, action, delta), p, off)
    }
    sent += rows.length
    input.addData(rows.toSeq) match {
      case o: org.apache.spark.sql.execution.streaming.runtime.LongOffset => o.offset
      case o => o.json.toLong
    }
  }
}

object Feeder {
  val Actions: Array[String] = Array("INC", "DEC", "REP")
  def keyJson(code: Int): String = s"""{"productCode":"key$code"}"""
  def valueJson(code: Int, action: Int, delta: Int): String =
    s"""{"delta":$delta,"key":{"productCode":"key$code"},"action":"${Actions(action)}"}"""
}

/** The benchmark's `foreachBatch` writer of the encoded changelog: it keeps
  * the latest value per record key (a compacted topic's view) and times
  * every write. */
final class ChangelogSink(tracer: Tracer) {
  val latest = new java.util.HashMap[String, String]()
  val writes = ArrayBuffer.empty[Map[String, Any]]

  def write(df: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.nowMs
    val rows = df.collect()
    rows.foreach(r => latest.put(r.getString(0), r.getString(1)))
    val t1 = Clock.nowMs
    tracer.add("sink.write", "sink", t0, t1)
    synchronized { writes += Map("batch" -> batchId, "start" -> t0, "end" -> t1, "rows" -> rows.length) }
  }
}

/** Collects the progress Spark reports for every micro-batch. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** One record per micro-batch of the query that processed input. */
  def batches(queryId: java.util.UUID): Seq[Map[String, Any]] =
    progress.asScala.toSeq.filter(p => p.id == queryId && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId).map { p =>
        val st = p.stateOperators.headOption
        Map(
          "batch" -> p.batchId,
          "timestamp" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "end_offset" -> p.sources.head.endOffset.trim.toLong,
          "rows_in" -> p.numInputRows,
          "records_emitted" -> Option(p.observedMetrics.get("inventory-peek"))
            .map(_.getAs[Long]("records_emitted")).getOrElse(-1L),
          "state" -> st.map(s => Map(
            "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
            "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs,
            "memory_bytes" -> s.memoryUsedBytes,
            "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap))
            .getOrElse(Map.empty))
      }
}

/** The two stream workloads: the pipeline InventoryStream ships (decode →
  * foldStream → withPeek → encode), fed through MemoryStream. */
object Streams {
  private val Partitions = 4
  private val TickMs = 10.0
  /** stream_steady: offered events/s, about half of what one micro-batch per
    * second keeps up with on a 4-core host; catalogue size; popularity skew. */
  private val Rate = 4000.0
  private val Catalogue = 100000
  private val ZipfExponent = 1.0
  /** stream_growth: events per micro-batch, small enough that state grows
    * more than tenfold within the run. */
  private val GrowthBatch = 5000

  /** A stream read as `Partitions` input partitions, like a topic of that
    * many partitions (without it MemoryStream plans one task per tick). */
  private def wireInput(spark: SparkSession): MemoryStream[(String, String, Int, Long)] =
    MemoryStream[(String, String, Int, Long)](spark, Partitions)(
      Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaInt, Encoders.scalaLong))

  /** The Kafka source's column shape (binary key/value), as KafkaWiringSpec feeds it. */
  private def pipeline(input: MemoryStream[(String, String, Int, Long)]): DataFrame = {
    val wire = input.toDF().select(
      col("_1").cast("binary").as("key"), col("_2").cast("binary").as("value"),
      col("_3").as("partition"), col("_4").as("offset"))
    InventoryStream.encode(InventoryStream.withPeek(
      InventoryStream.foldStream(InventoryStream.decode(wire))))
  }

  private def start(df: DataFrame, sink: ChangelogSink, checkpoint: String, trigger: Trigger): StreamingQuery =
    df.writeStream.outputMode("update").trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => sink.write(b, id) }
      .start()

  /** Independent fold of everything the feeder sent, in plain Scala, compared
    * with the sink's compacted changelog. Returns (product codes, mismatches). */
  def check(feeder: Feeder, sink: ChangelogSink): (Int, Int) = {
    val codes = feeder.codes.result(); val actions = feeder.actions.result(); val deltas = feeder.deltas.result()
    val counts = new java.util.HashMap[Int, Int]()
    var i = 0
    while (i < codes.length) {
      val prev = counts.getOrDefault(codes(i), 0)
      val d = deltas(i).toInt
      counts.put(codes(i), actions(i) match { case 0 => prev + d; case 1 => prev - d; case _ => d })
      i += 1
    }
    var failed = 0
    counts.forEach { (code, n) =>
      if (sink.latest.get(Feeder.keyJson(code)) != s"""{"count":$n,"key":null}""") failed += 1
    }
    failed += math.max(0, sink.latest.size - counts.size)
    (counts.size, failed)
  }

  /** The same job on one thread: decode the wire JSON, fold, encode the final
    * changelog. Events per second over the given wire rows. */
  def singleThreadEps(rows: Array[(String, String)]): Double = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def once(): Double = {
      val t0 = System.nanoTime()
      val state = new java.util.HashMap[String, Integer]()
      rows.foreach { case (k, v) =>
        val code = mapper.readTree(k).get("productCode").asText()
        val ev = mapper.readTree(v)
        val d = ev.get("delta").asInt()
        val prev: Int = Option(state.get(code)).map(_.intValue).getOrElse(0)
        state.put(code, ev.get("action").asText() match {
          case "INC" => prev + d
          case "DEC" => prev - d
          case _ => d
        })
      }
      var bytes = 0L
      state.forEach { (code, n) =>
        bytes += (s"""{"productCode":"$code"}""".length + s"""{"count":$n,"key":null}""".length)
      }
      require(bytes > 0)
      rows.length / ((System.nanoTime() - t0) / 1e9)
    }
    once() // JIT warm-up
    once()
  }

  private def wireRows(f: Feeder, from: Int, max: Int): Array[(String, String)] = {
    val codes = f.codes.result(); val actions = f.actions.result(); val deltas = f.deltas.result()
    (from until math.min(codes.length, from + max)).map { i =>
      (Feeder.keyJson(codes(i)), Feeder.valueJson(codes(i), actions(i), deltas(i)))
    }.toArray
  }

  /** Open loop at a fixed rate against the shipped 1-second trigger, on a
    * catalogue whose every code is already in state when timing starts. */
  def steady(spark: SparkSession, tracer: Tracer, exec: ExecListener, progress: ProgressLog,
      seed: Long, seconds: Double, work: String, rec: mutable.Map[String, Any]): Unit = {
    val src = new EventSource(seed, Catalogue, ZipfExponent)
    val input = wireInput(spark)
    val feeder = new Feeder(input, Partitions)
    val sink = new ChangelogSink(tracer)
    val df = tracer.span("pipeline.build", "operators")(timed(rec, "operators_build_ms")(pipeline(input)))
    val q = start(df, sink, s"$work/checkpoint-steady", Trigger.ProcessingTime("1 second"))
    // Set-up: every catalogue code enters state (inserts), then one batch of
    // updates on popular codes, so both paths are past their cold batch.
    feeder.send(src.catalogueCodes.map(c => (c, 2, src.delta())))
    q.processAllAvailable()
    feeder.send(Array.fill(20000)((src.hot(), src.action(), src.delta())))
    q.processAllAvailable()
    rec("ready_ms") = Clock.nowMs
    // Timed window on the trigger grid (ProcessingTime fires on multiples of
    // the interval): starts 50 ms before a trigger and lasts whole seconds,
    // so the window edges do not add a random share of one interval. The
    // generator runs for at least 2 s before the window so the cadence is
    // settled.
    val timedStart = math.ceil((Clock.nowMs + 2000) / 1000.0) * 1000.0 - 50.0
    val nTimed = math.round(seconds * 1000 / TickMs).toInt
    val warmTicks = math.round((timedStart - Clock.nowMs) / TickMs).toInt
    val perTick = Rate * TickMs / 1000.0
    val ticks = ArrayBuffer.empty[Array[Double]]
    val firstTimedEvent = new java.util.concurrent.atomic.AtomicLong(-1)
    val gen = new Thread(() => {
      var owed = 0.0
      for (i <- -warmTicks until nTimed) {
        val due = timedStart + i * TickMs
        owed += perTick
        val n = owed.toInt
        owed -= n
        val events = Array.fill(n)((src.hot(), src.action(), src.delta()))
        Clock.sleepUntil(due)
        if (i == 0) firstTimedEvent.set(feeder.sent)
        val sendStart = Clock.nowMs
        val off = feeder.send(events)
        val sendEnd = Clock.nowMs
        ticks += Array(due, sendStart, sendEnd, off.toDouble, n.toDouble, if (i >= 0) 1.0 else 0.0)
      }
    }, "load-generator")
    gen.setDaemon(true)
    val gc0 = Jvm.gcMs
    gen.start()
    Clock.sleepUntil(timedStart)
    gen.join()
    q.processAllAvailable()
    finish(spark, q, exec, progress, sink, feeder, timedStart, gc0, rec)
    rec("ticks") = ticks.toSeq
    rec("timed_start_ms") = timedStart
    rec("baseline_eps") = singleThreadEps(wireRows(feeder, firstTimedEvent.get.toInt, 100000))
  }

  /** Closed loop: each micro-batch is added after the previous one is
    * processed, and every event is on a product code not seen before. */
  def growth(spark: SparkSession, tracer: Tracer, exec: ExecListener, progress: ProgressLog,
      seed: Long, seconds: Double, work: String, rec: mutable.Map[String, Any]): Unit = {
    val src = new EventSource(seed, 1, ZipfExponent)
    def batchOf(): Array[(Int, Int, Int)] = Array.fill(GrowthBatch)((src.fresh(), src.action(), src.delta()))
    // Set-up: a throw-away query of the same shape warms code paths.
    locally {
      val input = wireInput(spark)
      val feeder = new Feeder(input, Partitions)
      val q = start(pipeline(input), new ChangelogSink(new Tracer(false)), s"$work/checkpoint-warm",
        Trigger.ProcessingTime(0L))
      for (_ <- 1 to 3) { feeder.send(batchOf()); q.processAllAvailable() }
      q.stop()
    }
    val input = wireInput(spark)
    val feeder = new Feeder(input, Partitions)
    val sink = new ChangelogSink(tracer)
    val df = tracer.span("pipeline.build", "operators")(timed(rec, "operators_build_ms")(pipeline(input)))
    val q = start(df, sink, s"$work/checkpoint-growth", Trigger.ProcessingTime(0L))
    rec("ready_ms") = Clock.nowMs
    val ticks = ArrayBuffer.empty[Array[Double]]
    val gc0 = Jvm.gcMs
    val timedStart = Clock.nowMs
    while (Clock.nowMs - timedStart < seconds * 1000) {
      val events = batchOf()
      val due = Clock.nowMs
      val off = feeder.send(events)
      val sendEnd = Clock.nowMs
      ticks += Array(due, due, sendEnd, off.toDouble, events.length.toDouble, 1.0)
      q.processAllAvailable()
    }
    finish(spark, q, exec, progress, sink, feeder, timedStart, gc0, rec)
    rec("ticks") = ticks.toSeq
    rec("timed_start_ms") = timedStart
    rec("baseline_eps") = singleThreadEps(wireRows(feeder, 0, 100000))
  }

  private def timed[T](rec: mutable.Map[String, Any], key: String)(f: => T): T = {
    val t0 = Clock.nowMs
    try f finally rec(key) = Clock.nowMs - t0
  }

  private def finish(spark: SparkSession, q: StreamingQuery, exec: ExecListener, progress: ProgressLog,
      sink: ChangelogSink, feeder: Feeder, timedStart: Double, gc0: Double,
      rec: mutable.Map[String, Any]): Unit = {
    val timedEnd = Clock.nowMs
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    rec("gc_ms") = Jvm.gcMs - gc0
    q.stop()
    rec("batches") = progress.batches(q.id)
    rec("sink_writes") = sink.synchronized(sink.writes.toList)
    rec("timed_end_ms") = timedEnd
    rec("exec") = exec.summary(timedStart, timedEnd)
    rec("jobs") = exec.jobsIn(timedStart, timedEnd).map { case (a, b) => Seq(a, b) }
    val (attempted, failed) = check(feeder, sink)
    rec("attempted") = attempted
    rec("failed") = failed
    rec("events_sent") = feeder.sent
  }
}
