package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StreamingOps, UrlCrawl, UrlProvenance}

final case class IdEvent(id: Long, ts: Timestamp, payload: String)
final case class Click(k: String, lts: Timestamp, page: String)
final case class Buy(k: String, rts: Timestamp, amount: Long)
final case class UserEvent(user: String, ts: Timestamp)

/** MemoryStream micro-batch semantics for the streaming training-pipeline
  * operators: watermark-bounded dedup, stream-stream range join, session
  * windows. */
class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("dropDuplicatesWithinWatermark emits first occurrence, drops in-horizon dups") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[IdEvent]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = StreamingOps.dedupWithinWatermark(input.toDF(), "id")
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add((r.getLong(0), r.getString(2)))); ()
      }.start()
    try {
      input.addData(IdEvent(1, t(0), "first"), IdEvent(2, t(1), "first"))
      q.processAllAvailable()
      // same ids again within the watermark horizon → dropped
      input.addData(IdEvent(1, t(2), "dup"), IdEvent(2, t(3), "dup"), IdEvent(3, t(3), "first"))
      q.processAllAvailable()
      val got = seen.toArray(Array.empty[(Long, String)]).toSet
      assert(got === Set((1L, "first"), (2L, "first"), (3L, "first")))
    } finally q.stop()
  }

  test("stream-stream range join matches buys to clicks within the horizon") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Buy]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    val joined = StreamingOps.rangeBoundedJoin(
      clicks.toDF(), buys.toDF(), "k", "lts", "rts")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "page", "amount").collect()
          .foreach(r => out.add((r.getString(0), r.getString(1), r.getLong(2)))); ()
      }.start()
    try {
      clicks.addData(Click("u1", t(0), "home"), Click("u2", t(5), "search"))
      buys.addData(
        Buy("u1", t(10), 42),  // 10 min after u1's click → inside 15-min horizon
        Buy("u2", t(25), 99))  // 20 min after u2's click → outside horizon
      q.processAllAvailable()
      val got = out.toArray(Array.empty[(String, String, Long)]).toSet
      assert(got === Set(("u1", "home", 42L)))
    } finally q.stop()
  }

  test("left-outer range join keeps unmatched clicks, nulls emitted only past the watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Buy]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Option[Long])]()
    val joined = StreamingOps.rangeBoundedJoin(
      clicks.toDF(), buys.toDF(), "k", "lts", "rts", joinType = "left_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "page", "amount").collect().foreach(r =>
          out.add((r.getString(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))); ()
      }.start()
    def got = out.toArray(Array.empty[(String, String, Option[Long])]).toSet
    try {
      clicks.addData(Click("u1", t(0), "home"), Click("u2", t(0), "search"))
      buys.addData(Buy("u1", t(10), 42)) // u1 attributed; u2 pending
      q.processAllAvailable()
      assert(!got.exists(_._1 == "u2"),
        "u2's null row must NOT emit while a match could still arrive")
      // advance both watermarks well past u2's click+horizon window
      clicks.addData(Click("u3", t(60), "late"))
      buys.addData(Buy("u4", t(60), 1))
      q.processAllAvailable()
      assert(got.contains(("u1", "home", Some(42L))))
      assert(got.contains(("u2", "search", None)),
        s"unmatched click must surface with nulls after the horizon closes: $got")
    } finally q.stop()
  }

  test("observe-based peek surfaces per-batch metrics without touching the data") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("inventory-peek")) {
          val row = m.get("inventory-peek")
          observed.add((row.getLong(0), row.getLong(1)))
        }
      }
    }
    spark.streams.addListener(listener)
    val input = MemoryStream[graft.model.OrderedUpdateEvent]
    val results = new java.util.concurrent.ConcurrentLinkedQueue[graft.streaming.KeyedCount]()
    val q = graft.streaming.InventoryStream.withPeek(
        graft.streaming.InventoryStream.foldStream(input.toDS()))
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.KeyedCount], _: Long) =>
        b.collect().foreach(results.add); ()
      }.start()
    try {
      input.addData(
        graft.model.OrderedUpdateEvent("a", 1, "INC", 5),
        graft.model.OrderedUpdateEvent("b", 2, "INC", 3))
      q.processAllAvailable()
      // listener events are async; wait for delivery (on this query only:
      // waiting on any query would rethrow another suite's crashed stream)
      q.awaitTermination(1)
      var waited = 0
      while (observed.isEmpty && waited < 50) { Thread.sleep(100); waited += 1 }
      val metrics = observed.toArray(Array.empty[(Long, Long)])
      assert(metrics.exists { case (n, d) => n === 2L && d === 2L },
        s"peek must report 2 emitted records for 2 distinct products, got ${metrics.toSeq}")
      assert(results.size === 2, "observe must not alter the data path")
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  /** Run [[StreamingOps.sessionWindows]] over `triggers` (one micro-batch
    * each) and return the emitted (start, end, user, n_events) rows plus the
    * state-store row count after every trigger. */
  private def sessionRun(gap: String, watermark: String,
      triggers: Seq[Seq[UserEvent]]): (Set[(Timestamp, Timestamp, String, Long)], Seq[Long]) = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Timestamp, Timestamp, String, Long)]()
    val q = StreamingOps.sessionWindows(input.toDF(), "user", gap = gap, watermark = watermark)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3)))); ()
      }.start()
    try {
      val stateRows = triggers.map { evs =>
        input.addData(evs)
        q.processAllAvailable()
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      (out.toArray(Array.empty[(Timestamp, Timestamp, String, Long)]).toSet, stateRows)
    } finally q.stop()
  }

  test("session windows merge gap-contiguous events and close via watermark") {
    def ev(user: String, minutes: Int*) = minutes.map(m => UserEvent(user, t(m)))
    // u: events at 0 and 20 chain one session (gap 20 < 30); 70 starts
    // another; w's events advance the watermark far enough to close both
    val (got, _) = sessionRun("30 minutes", "10 minutes",
      Seq(ev("u", 0, 20, 70), ev("w", 300), ev("w", 600)))
    assert(got.filter(_._3 == "u") === Set(
      (t(0), t(50), "u", 2L),   // session = [first, last+gap)
      (t(70), t(100), "u", 1L)))

    // 5-minute gap, 30-minute watermark delay: an event may arrive in a
    // LATER trigger than the sessions it belongs to and must still merge.
    //  a, b: a gap-closed session (a@0,2) and a lone one (b@2)
    //  x: x@23 arrives after x@40 and joins x@20, no single-event session
    //  e1: an earlier in-gap event pulls the session start back
    //  e2: two early events merge with each other, not with e2@40
    //  e3: an early pair chains into the session it reaches within the gap
    //  e4: a bridge event joins two sessions already held in state
    //  z: advances the watermark past every session above
    val (got5, stateRows) = sessionRun("5 minutes", "30 minutes", Seq(
      ev("a", 0, 2) ++ ev("b", 2) ++ ev("x", 20) ++ ev("e1", 40) ++
        ev("e2", 40) ++ ev("e3", 40) ++ ev("e4", 20, 28),
      ev("a", 22) ++ ev("x", 40),
      ev("x", 23) ++ ev("e1", 36) ++ ev("e2", 30, 33) ++ ev("e3", 32, 36) ++
        ev("e4", 24) ++ ev("c", 23),
      ev("z", 80),
      ev("z", 200),
      ev("z", 201)))
    assert(got5 === Set(
      (t(0), t(7), "a", 2L), (t(22), t(27), "a", 1L),
      (t(2), t(7), "b", 1L),
      (t(23), t(28), "c", 1L),
      (t(20), t(28), "x", 2L), (t(40), t(45), "x", 1L),
      (t(36), t(45), "e1", 2L),
      (t(30), t(38), "e2", 2L), (t(40), t(45), "e2", 1L),
      (t(32), t(45), "e3", 3L),
      (t(20), t(33), "e4", 3L),
      (t(80), t(85), "z", 1L)))
    // eviction is real: once the watermark passed them, every emitted
    // session's state row is gone and only z's open session remains
    assert(stateRows.max > 1 && stateRows.last === 1L,
      s"state rows per trigger: $stateRows")
  }

  test("stream-static enrichment broadcasts the dimension, no streaming state") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val dim = Seq(("u1", "gold"), ("u2", "silver")).toDF("user", "tier")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val q = StreamingOps.enrichWithStatic(input.toDF(), dim, "user")
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add((r.getString(0),
          Option(r.getString(2)).getOrElse("none")))); ()
      }.start()
    try {
      input.addData(UserEvent("u1", t(0)), UserEvent("u3", t(1)))
      q.processAllAvailable()
      input.addData(UserEvent("u2", t(2)))
      q.processAllAvailable()
      val got = out.toArray(Array.empty[(String, String)]).toSet
      assert(got === Set(("u1", "gold"), ("u3", "none"), ("u2", "silver")))
      // stateless: the progress metrics must report no state store rows
      assert(q.lastProgress.stateOperators.isEmpty,
        "stream-static join must not allocate streaming state")
    } finally q.stop()
  }

  test("curationStream cleans, filters, and dedups by content within the watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = graft.streaming.StreamingOps.curationStream(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add((r.getLong(0), r.getString(2)))); ()
      }.start()
    val good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi").trim  // 16 distinct tokens
    val short = "too short"
    val repetitive = Array.fill(20)("spam").mkString(" ")  // dup fraction 950‰
    try {
      input.addData(
        StreamDoc(1, "s0", "  " + good.toUpperCase + "  ", t(0)),
        StreamDoc(2, "s0", short, t(1)),
        StreamDoc(3, "s0", repetitive, t(1)))
      q.processAllAvailable()
      // doc 4 cleans to the same bytes as doc 1 → in-horizon dup, dropped
      input.addData(StreamDoc(4, "s1", good, t(2)))
      q.processAllAvailable()
      val got = out.toArray(Array.empty[(Long, String)])
      assert(got.map(_._1).toSet === Set(1L), s"got $got")
      assert(got.head._2 === good, "cleaned text must be normalized")
    } finally q.stop()
  }

  test("curationStreamGated: the published-gate admission filter admits " +
      "EXACTLY the batch pipeline's gate keep-set on the same fixture " +
      "(batch == stream, the scd2Stream discipline on the quality gate), " +
      "holding no state beyond the content dedup") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the CurationV2Spec adversarial trio + a short doc + an in-horizon dup
    val theSpam = Array.fill(10)("the").mkString(" ")        // gopher ok, entropy low
    val letters = "abcdefghij"
    val nonl = "0123456789!#$%&()*+,-./:;<=>?[]^_{|}~"
    val noise = "a a " + (0 until 10)
      .map(i => letters(i) + nonl.slice(4 * i, 4 * i + 4)).mkString(" ") // entropy 5181
    val natural = "the quick brown fox jumps over a lazy dog near the " +
      "riverbank while value and key travel home under warm evening light"
    val short = "the a key"                                   // gopher count rule
    val fixture = Seq(
      (1L, "s0", theSpam), (2L, "s0", noise), (3L, "s0", natural),
      (4L, "s1", short))
    // BATCH keep-set: the v2 pipeline's gate stage over the same rows
    val batchKeep = graft.operators.TrainingData
      .cleanedOn(fixture.toDF("doc_id", "source", "text"))
      .filter(graft.operators.TextAnalysis.gopherKeepCol(col("cleaned")) &&
        graft.operators.TextAnalysis.charEntropyMilliCol(col("cleaned"))
          .between(graft.operators.TrainingData.EntropyBandLo,
            graft.operators.TrainingData.EntropyBandHi))
      .select("doc_id").as[Long].collect().toSet
    assert(batchKeep === Set(3L), s"fixture sanity: $batchKeep")

    val input = MemoryStream[StreamDoc]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = StreamingOps.curationStreamGated(input.toDF())
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add(
          (r.getLong(0), r.getAs[Long]("char_entropy_milli")))); ()
      }.start()
    try {
      input.addData(fixture.zipWithIndex.map { case ((id, src, tx), i) =>
        StreamDoc(id, src, tx, t(i)) }: _*)
      q.processAllAvailable()
      // an in-horizon content dup of the admitted doc → dropped by state
      input.addData(StreamDoc(5L, "s2", natural, t(4)))
      q.processAllAvailable()
      val got = out.toArray(Array.empty[(Long, Long)])
      assert(got.map(_._1).toSet === batchKeep,
        s"stream admitted set must equal the batch keep-set: ${got.toSeq}")
      // the emitted entropy equals the batch gate's value for the doc
      val batchEnt = graft.operators.TrainingData
        .cleanedOn(fixture.toDF("doc_id", "source", "text"))
        .select(col("doc_id"), graft.operators.TextAnalysis
          .charEntropyMilliCol(col("cleaned")).as("e"))
        .filter(col("doc_id") === 3L).as[(Long, Long)].collect().head._2
      assert(got.head._2 === batchEnt, "entropy value batch == stream")
      // gates are stateless: only the content dedup holds streaming state
      assert(q.lastProgress.stateOperators.length === 1,
        "only dropDuplicatesWithinWatermark may hold streaming state")
    } finally q.stop()
  }

  test("curationStreamIncremental drops cross-snapshot dups at ingest via the store") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // yesterday's snapshot, persisted exactly as the batch pipeline does
    val histText = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi"
    val hist = Seq((100L, histText)).toDF("doc_id", "text")
    val store = graft.sources.ParquetSink.writeBucketed(
      graft.operators.Dedup.fingerprintSnapshot(hist), "stream_fp_store", "fp",
      graft.operators.Dedup.storeBuckets(spark))

    val input = MemoryStream[StreamDoc]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = StreamingOps.curationStreamIncremental(input.toDF(), store)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add(r.getLong(0))); ()
      }.start()
    // same token SET as history (reordered) → same fingerprint → drop at
    // ingest even though the content hash differs
    val histReordered = histText.split(" ").reverse.mkString(" ")
    val fresh = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    try {
      input.addData(
        StreamDoc(1, "s0", histReordered, t(0)),
        StreamDoc(2, "s0", fresh, t(1)))
      q.processAllAvailable()
      // in-stream dup of the fresh doc → dropped by the watermark state
      input.addData(StreamDoc(3, "s1", fresh, t(2)))
      q.processAllAvailable()
      val got = out.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSet
      assert(got === Set(2L),
        s"history dup (1) and in-stream dup (3) must be dropped, got $got")
      // the cross-snapshot gate is stateless: only the content-hash dedup
      // holds state, so the store can be arbitrarily large
      assert(q.lastProgress.stateOperators.length === 1,
        "only dropDuplicatesWithinWatermark may hold streaming state")
    } finally q.stop()
  }

  test("FULL outer stream-stream join surfaces unmatched rows from BOTH sides") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Buy]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String], Option[Long])]()
    val joined = StreamingOps.rangeBoundedJoin(
      clicks.toDF(), buys.toDF(), "k", "lts", "rts", joinType = "full_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "page", "amount").collect().foreach(r =>
          out.add((r.getString(0),
            if (r.isNullAt(1)) None else Some(r.getString(1)),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))); ()
      }.start()
    def got = out.toArray(Array.empty[(String, Option[String], Option[Long])]).toSet
    try {
      clicks.addData(Click("u1", t(0), "home"), Click("u2", t(0), "search"))
      buys.addData(Buy("u1", t(10), 42), Buy("u9", t(10), 7)) // u9: buy with no click
      q.processAllAvailable()
      assert(!got.exists(r => r._1 == "u2" || r._1 == "u9"),
        s"null rows must NOT emit while a match could still arrive: $got")
      // advance both watermarks past every open join window
      clicks.addData(Click("u3", t(60), "late"))
      buys.addData(Buy("u4", t(60), 1))
      q.processAllAvailable()
      assert(got.contains(("u1", Some("home"), Some(42L))))
      assert(got.contains(("u2", Some("search"), None)),
        s"unmatched LEFT row must surface: $got")
      assert(got.contains(("u9", None, Some(7L))),
        s"unmatched RIGHT row must surface — the full-outer addition: $got")
    } finally q.stop()
  }

  test("ingestLoop accumulates fingerprints across batches: batch N+1 sees batch N's docs") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val (storePath, outPath, ckpt) = (s"$base/store", s"$base/out", s"$base/ckpt")
    val input = MemoryStream[StreamDoc]
    val q = StreamingOps.ingestLoop(input.toDF().select("doc_id", "text"), ckpt)(
      StreamingOps.ingestBatch(_, storePath, outPath, _))
    val a = "alpha beta gamma"
    val b = "delta epsilon zeta"
    val c = "eta theta iota"
    try {
      // doc 1 appears TWICE in the first batch (at-least-once replay):
      // exactly one output row may survive
      input.addData(StreamDoc(1, "s0", a, t(0)), StreamDoc(1, "s0", a, t(0)),
        StreamDoc(2, "s0", b, t(0)))
      q.processAllAvailable()
      // batch 2: doc 3 re-sends doc 1's token set (reordered) — the fps doc 1
      // appended in batch 1 must drop it; doc 4 is genuinely new
      input.addData(
        StreamDoc(3, "s1", a.split(" ").reverse.mkString(" "), t(1)),
        StreamDoc(4, "s1", c, t(1)))
      q.processAllAvailable()
      val keptRows = spark.read.parquet(outPath)
      val kept = keptRows.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 4L),
        s"cross-batch dup (3) must be dropped by the accumulated store, got $kept")
      assert(keptRows.count() === 3,
        "intra-batch replay of doc 1 must not re-expand through the payload join")
      // survivors carry the full document payload, not just (doc_id, fp)
      val keptTexts = keptRows.select("text").collect().map(_.getString(0)).toSet
      assert(keptTexts === Set(a, b, c),
        s"emitted rows must keep the batch payload, got $keptTexts")
      // the store is the accumulator: every survivor's fp, nothing else
      assert(spark.read.parquet(storePath).distinct().count() === 3,
        "store must hold exactly the survivors' fingerprints")
    } finally q.stop()
  }

  test("ingestCatchUp drains the backlog, stops itself, and resumes from the checkpoint") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-catchup").toString
    val (storePath, outPath, ckpt) = (s"$base/store", s"$base/out", s"$base/ckpt")
    val input = MemoryStream[StreamDoc]
    val a = "alpha beta gamma"
    val b = "delta epsilon zeta"
    val c = "eta theta iota"
    // backlog before the query even starts — the crashed-loop restart shape
    input.addData(StreamDoc(1, "s0", a, t(0)), StreamDoc(2, "s0", b, t(0)))
    val q1 = StreamingOps.ingestLoop(
      input.toDF().select("doc_id", "text"), ckpt, Trigger.AvailableNow())(
      StreamingOps.ingestBatch(_, storePath, outPath, _))
    assert(q1.awaitTermination(60000), "AvailableNow must terminate on its own")
    assert(spark.read.parquet(outPath).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // new arrivals AFTER the first catch-up finished: a replay of doc 1's
    // token set (must drop via the persisted store) and a genuinely new doc
    input.addData(
      StreamDoc(3, "s1", a.split(" ").reverse.mkString(" "), t(1)),
      StreamDoc(4, "s1", c, t(1)))
    val q2 = StreamingOps.ingestLoop(
      input.toDF().select("doc_id", "text"), ckpt, Trigger.AvailableNow())(
      StreamingOps.ingestBatch(_, storePath, outPath, _))
    assert(q2.awaitTermination(60000), "second catch-up must terminate on its own")
    val kept = spark.read.parquet(outPath).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L),
      s"checkpoint resume must process only the new backlog and the store must drop doc 3, got $kept")
  }

  test("ingestLoopNearDup drops cross-batch NEAR-dups via the accumulated signature store") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val input = MemoryStream[StreamDoc]
    val q = StreamingOps.ingestLoop(input.toDF().select("doc_id", "text"), s"$base/ckpt")(
      StreamingOps.ingestBatchNearDup(_, s"$base/sig", s"$base/band", s"$base/out", _))
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val novel = (1 to 20).map(i => s"v$i").mkString(" ")
    try {
      input.addData(StreamDoc(1, "s0", long, t(0)))
      q.processAllAvailable()
      // batch 2: doc 2 is a one-token edit of doc 1 (J≈0.89, est >> 0.5) —
      // only the ACCUMULATED store can catch it; doc 3 is novel
      input.addData(
        StreamDoc(2, "s1", long.split(" ").dropRight(1).mkString(" ") + " zz", t(1)),
        StreamDoc(3, "s1", novel, t(1)))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$base/out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L),
        s"cross-batch near-dup (2) must be dropped, got $kept")
      // constant-space store: one signature row and Md5Bands band rows per survivor
      assert(spark.read.parquet(s"$base/sig").count() === 2)
      assert(spark.read.parquet(s"$base/band").count() === 2L * graft.operators.MinHashLSH.Md5Bands)
    } finally q.stop()
  }
  test("ingestLoopSpans audits span duplication across batches, store grows by novel hashes only") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val W = graft.operators.Dedup.SpanWindow
    val base = java.nio.file.Files.createTempDirectory("graft-spanloop").toString
    val input = MemoryStream[StreamDoc]
    val q = StreamingOps.ingestLoop(input.toDF().select("doc_id", "text"), s"$base/ckpt")(
      StreamingOps.ingestBatchSpans(_, s"$base/spans", s"$base/out", _))
    val para = (1 to W).map(i => s"p$i").mkString(" ") // exactly one window
    val other = (1 to W).map(i => s"q$i").mkString(" ")
    try {
      input.addData(StreamDoc(1, "s0", para, t(0)))
      q.processAllAvailable()
      // batch 2: doc 2 re-uses batch 1's paragraph (history dup), docs 3+4
      // share a batch-internal span, doc 5 is sub-window
      input.addData(
        StreamDoc(2, "s1", para + " tail1 tail2", t(1)),
        StreamDoc(3, "s1", other, t(1)),
        StreamDoc(4, "s1", other + " x y", t(1)),
        StreamDoc(5, "s1", "too short", t(1)))
      q.processAllAvailable()
      val audit = spark.read.parquet(s"$base/out")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
      // batch 1: nothing to collide with
      assert(audit(1L) === ((1L, 0L, 0L)), s"doc1 ${audit(1L)}")
      // doc 2's first window == doc 1's span → history dup (store caught it)
      assert(audit(2L)._1 === 3L && audit(2L)._2 >= 1L, s"doc2 ${audit(2L)}")
      // docs 3/4 share `other` → batch dups, not history
      assert(audit(3L) === ((1L, 0L, 1L)), s"doc3 ${audit(3L)}")
      assert(audit(4L)._3 >= 1L && audit(4L)._2 === 0L, s"doc4 ${audit(4L)}")
      // sub-window doc audited as zeros, never dropped (nothing is)
      assert(audit(5L) === ((0L, 0L, 0L)))
      assert(audit.size === 5, "the loop drops nothing — audit row per doc")
      // store: distinct hashes only — doc 2's repeat of para's window and
      // docs 3/4's shared span each add ONE row
      val stored = spark.read.parquet(s"$base/spans").select("h")
        .collect().map(_.getString(0))
      assert(stored.length === stored.distinct.length, "store stays distinct")
      // para window, doc2's two novel tail windows, other, doc4's two novel
      val expectStore = 1 + 2 + 1 + 2
      assert(stored.length === expectStore, s"store rows ${stored.length}")
    } finally q.stop()
  }

  test("driftStream: bootstrap is silent, steady state is quiet, a swapped " +
      "dominant token tops the report; replay never double-counts") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-driftloop").toString
    val input = MemoryStream[StreamDoc]
    import org.apache.spark.sql.functions.col
    val q = StreamingOps.ingestLoop(input.toDF().select("doc_id", "text"), s"$base/ckpt")(
      StreamingOps.ingestBatchDrift(_, s"$base/store", s"$base/out", _))
    val steady = "alpha alpha alpha beta gamma"
    try {
      input.addData(StreamDoc(1, "s0", steady, t(0)))
      q.processAllAvailable()
      // bootstrap: store seeded, no report
      assert(!new java.io.File(s"$base/out").exists() ||
        spark.read.parquet(s"$base/out").count() === 0L)
      assert(spark.read.parquet(s"$base/store").count() === 3L)

      input.addData(StreamDoc(2, "s0", steady, t(1)))
      q.processAllAvailable()
      val r1 = spark.read.parquet(s"$base/out")
        .filter(col("batch") === 1L).collect()
      assert(r1.nonEmpty, "steady batch must emit a report")
      val quietTotal = r1.head.getAs[Long]("total_psi_micro")

      // batch 2: 'alpha' mass swaps to a brand-new token
      input.addData(StreamDoc(3, "s0", "omega omega omega beta gamma", t(2)))
      q.processAllAvailable()
      val r2 = spark.read.parquet(s"$base/out")
        .filter(col("batch") === 2L)
        .orderBy(col("contrib_micro").desc, col("term")).collect()
      val drifted = r2.head.getAs[String]("term")
      assert(drifted === "omega" || drifted === "alpha",
        s"swap must dominate, got $drifted")
      assert(r2.head.getAs[Long]("total_psi_micro") > quietTotal,
        "distribution swap must raise total PSI above the steady level")
    } finally q.stop()

    // replay: same batchId scored against the pre-append store
    val b = Seq((9L, "omega nu")).toDF("doc_id", "text")
    StreamingOps.ingestBatchDrift(b, s"$base/store", s"$base/out9", 9L)
    val store1 = spark.read.parquet(s"$base/store")
      .groupBy("t").sum("c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rep1 = spark.read.parquet(s"$base/out9")
      .select("term", "contrib_micro").collect().map(r => (r.getString(0), r.getLong(1)))
    StreamingOps.ingestBatchDrift(b, s"$base/store", s"$base/out9", 9L)
    val store2 = spark.read.parquet(s"$base/store")
      .groupBy("t").sum("c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(store2 === store1, "replay must not double-count the store")
    val rep2 = spark.read.parquet(s"$base/out9")
      .select("term", "contrib_micro").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rep2.length === rep1.length && rep2.toSet === rep1.toSet,
      "replayed report must overwrite its own batch partition, not append")
  }

  test("ingestLoopUrl drops a re-crawled URL variant stored one batch earlier") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-urlloop").toString
    val input = MemoryStream[UrlDoc]
    val q = StreamingOps.ingestLoop(input.toDF(), s"$base/ckpt")(
      StreamingOps.ingestBatchUrl(_, s"$base/store", s"$base/out", _))
    try {
      input.addData(
        UrlDoc(1L, "https://example.org/a"),
        UrlDoc(2L, "http://www.example.org/a/"), // in-batch re-crawl of 1
        UrlDoc(3L, "https://other.net/x"))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$base/out").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(b0 === Map(1L -> "example.org/a", 3L -> "other.net/x"),
        s"first batch keeps min-id per canonical: $b0")

      input.addData(
        UrlDoc(10L, "HTTPS://EXAMPLE.ORG/a#frag"),  // re-crawl of stored 1
        UrlDoc(11L, "https://other.net/x?utm_source=f"), // re-crawl of stored 3
        UrlDoc(12L, "https://example.org/A"))       // path case differs: NEW
      q.processAllAvailable()
      val all = spark.read.parquet(s"$base/out").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(all === Map(1L -> "example.org/a", 3L -> "other.net/x",
        12L -> "example.org/A"),
        s"re-crawls of stored pages dropped, case-distinct path kept: $all")
      // the store accumulated exactly the survivors' canonical keys
      val store = spark.read.parquet(s"$base/store").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(store === Seq("example.org/A", "example.org/a", "other.net/x"))
    } finally q.stop()
  }

  /** [[StreamingOps.urlMergeStream]] over `batches` into a parquet sink: the
    * query stops after `killAfter` batches and a new one resumes from the
    * same checkpoint for the rest. `afterBatch(i, sink)` sees the sink's
    * rows once batch `i` is committed. Returns the sink's rows and the
    * frontier, read from the state store. */
  private def urlMergeRun(batches: Seq[Seq[CrawlDoc]], killAfter: Int)(
      afterBatch: (Int, Seq[UrlProvenance]) => Unit = (_, _) => ())
      : (Seq[UrlProvenance], Map[String, UrlCrawl]) = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-urlmerge").toString
    val input = MemoryStream[CrawlDoc]
    def sink(): Seq[UrlProvenance] = spark.read.parquet(s"$base/out")
      .as[UrlProvenance].collect().toSeq
      .sortBy(p => (p.canonical, p.doc_id, p.url, p.fp, p.status))
    def run(from: Int, until: Int): Unit = if (from < until) {
      val q = StreamingOps.urlMergeStream(input.toDF())
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt")
        .start(s"$base/out")
      try (from until until).foreach { i =>
        input.addData(batches(i))
        q.processAllAvailable()
        afterBatch(i, sink())
      } finally q.stop()
    }
    run(0, killAfter)
    run(killAfter, batches.size)
    val frontier = spark.read.format("statestore").load(s"$base/ckpt")
      .select(col("value.groupState.*")).as[UrlCrawl].collect()
      .map(c => c.canonical -> c).toMap
    (sink(), frontier)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("urlMergeStream: a re-crawled page whose content CHANGED replaces its " +
      "frontier row across batches; unchanged re-crawls are skippable") {
    def statuses(rows: Seq[UrlProvenance], ids: Set[Long]): Map[String, String] =
      rows.filter(p => ids(p.doc_id)).map(p => p.canonical -> p.status).toMap
    val seen = scala.collection.mutable.Map.empty[Int, Map[String, String]]
    val (_, frontier) = urlMergeRun(Seq(
      Seq(CrawlDoc(1L, "https://example.org/a", "alpha v1"),
        CrawlDoc(2L, "https://example.org/b", "beta v1")),
      Seq(CrawlDoc(10L, "http://www.example.org/a/", "alpha v1"), // same bytes
        CrawlDoc(11L, "HTTPS://EXAMPLE.ORG/b#frag", "beta v2"),    // content moved
        CrawlDoc(12L, "https://example.org/c", "gamma v1"))),      // first crawl
      killAfter = 2) { (i, sink) =>
      seen(i) = statuses(sink, if (i == 0) Set(1L, 2L) else Set(10L, 11L, 12L))
    }
    assert(seen(0) === Map("example.org/a" -> "new", "example.org/b" -> "new"),
      s"bootstrap batch: everything is a first crawl: ${seen(0)}")
    assert(seen(1) === Map("example.org/a" -> "unchanged",
      "example.org/b" -> "changed", "example.org/c" -> "new"),
      s"provenance per batch key: ${seen(1)}")
    // the frontier holds the REPLACED row for b (doc 11, v2 fp), the latest
    // crawl of a (an unchanged re-crawl still replaces: last-writer-wins),
    // and the new c
    assert(frontier.view.mapValues(c => (c.doc_id, c.fp)).toMap === Map(
      "example.org/a" -> ((10L, md5Hex("alpha v1"))),
      "example.org/b" -> ((11L, md5Hex("beta v2"))),
      "example.org/c" -> ((12L, md5Hex("gamma v1")))),
      s"one row per key, last writer wins: $frontier")
  }

  test("urlMergeStream differential: generated multi-batch crawls equal a " +
      "plain-Scala Map fold, batch by batch and in the final frontier") {
    // four URL spellings of each page share one canonical key
    def spell(page: Int, v: Int): (String, String) = (Seq(
      s"https://example.org/p$page", s"http://www.example.org/p$page/",
      s"HTTPS://EXAMPLE.ORG/p$page#frag", s"https://example.org/p$page?utm=x")(v),
      s"example.org/p$page")
    // per batch: distinct doc_ids (smaller ones may arrive later), few pages
    // (same-canonical variants in one batch), few texts per page (unchanged
    // and changed re-crawls)
    val genBatch: Gen[Seq[(Long, Int, Int, Int)]] = for {
      n <- Gen.choose(1, 8)
      ids <- Gen.pick(n, 1L to 40L)
      rows <- Gen.listOfN(n,
        Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3), Gen.choose(0, 1)))
    } yield ids.toSeq.zip(rows).map { case (id, (p, v, t)) => (id, p, v, t) }
    val genCrawl = Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, genBatch))
    val prop = Prop.forAllNoShrink(genCrawl) { crawl =>
      val batches = crawl.map(_.map { case (id, p, v, t) =>
        CrawlDoc(id, spell(p, v)._1, s"page $p text $t")
      })
      // the model: the KTable upsert over a Map, one latest crawl per key
      var model = Map.empty[String, UrlCrawl]
      val expected = crawl.map { b =>
        b.groupBy { case (_, p, v, _) => spell(p, v)._2 }.toSeq.map { case (k, rows) =>
          val (id, p, v, t) = rows.maxBy(_._1)
          val latest = UrlCrawl(k, id, spell(p, v)._1, md5Hex(s"page $p text $t"))
          val status = model.get(k) match {
            case None => "new"
            case Some(prev) if prev.fp == latest.fp => "unchanged"
            case _ => "changed"
          }
          model += k -> latest
          UrlProvenance(k, id, latest.url, latest.fp, status)
        }
      }
      val (_, frontier) = urlMergeRun(batches, killAfter = batches.size) { (i, sink) =>
        val want = expected.take(i + 1).flatten
          .sortBy(p => (p.canonical, p.doc_id, p.url, p.fp, p.status))
        assert(sink === want, s"after batch $i of $batches")
      }
      frontier == model
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("urlMergeStream killed after batch k and resumed from its checkpoint: " +
      "the parquet sink and the state-store frontier equal an uninterrupted run") {
    val batches = Seq(
      Seq(CrawlDoc(1L, "https://example.org/a", "a1"),
        CrawlDoc(2L, "https://example.org/b", "b1")),
      Seq(CrawlDoc(3L, "http://www.example.org/a/", "a2"),
        CrawlDoc(4L, "https://example.org/c", "c1"),
        CrawlDoc(5L, "https://example.org/c?utm=x", "c2")),
      Seq(CrawlDoc(6L, "https://example.org/b#top", "b1"),
        CrawlDoc(7L, "HTTPS://EXAMPLE.ORG/a", "a2")),
      Seq(CrawlDoc(0L, "https://example.org/d", "d1"),
        CrawlDoc(8L, "https://example.org/c", "c1")))
    val uninterrupted = urlMergeRun(batches, killAfter = batches.size)()
    val resumed = urlMergeRun(batches, killAfter = 2)()
    assert(resumed === uninterrupted,
      "resume-from-checkpoint must be invisible in the sink and the frontier")
    assert(uninterrupted._1.size === 8 && uninterrupted._2.size === 4)
    assert(uninterrupted._2("example.org/c").doc_id === 8L)
  }

  test("ingestLoopIvfPq: the accumulated code store equals a full re-encode " +
      "bit-for-bit (frozen artifacts), and a replayed batch rewrites its own " +
      "partition identically") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ivfpq-loop").toString
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    // history trains the frozen artifacts (compaction-time posture)
    val hist = (100L until 116L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val hn = graft.operators.Similarity.withNorm(hist)
    val cents = graft.operators.Similarity.kmeansCentroidArray(hn, 4, 1).cache()
    val cb = graft.operators.Similarity.ivfPqCodebook(hn, 8, cents, 1).cache()
    val b1 = (0L until 6L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val b2 = (6L until 12L).map(i => (i, vec())).toDF("vec_id", "embedding")
    StreamingOps.ingestBatchIvfPq(b1, cents, cb, 8, s"$base/codes", 0L)
    StreamingOps.ingestBatchIvfPq(b2, cents, cb, 8, s"$base/codes", 1L)
    def storeRows() = spark.read.parquet(s"$base/codes")
      .select("vec_id", "codes", "cid", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","), r.getLong(2),
        r.getDouble(3))).toSet
    val acc = storeRows()
    val full = graft.operators.Similarity.ivfPqIndex(
        graft.operators.Similarity.withNorm(b1.unionByName(b2)), 8, cents, cb)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","),
        r.getLong(2), r.getDouble(3))).toSet
    assert(acc === full,
      "per-vector encoding under frozen codebooks: accumulated ≡ re-encode")
    // replay batch 1 (crash before checkpoint commit): its partition is
    // overwritten with the identical rows — never appended
    StreamingOps.ingestBatchIvfPq(b2, cents, cb, 8, s"$base/codes", 1L)
    assert(storeRows() === acc, "replay is bit-identical, no duplicates")
    assert(spark.read.parquet(s"$base/codes").count() === 12L)
  }

  test("ingestLoopChunks embeds each distinct chunk once across batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-chunkloop").toString
    val input = MemoryStream[UrlDoc] // (doc_id, url) stands in for (doc_id, text)
    val q = StreamingOps.ingestLoop(
      input.toDF().withColumnRenamed("url", "text"), s"$base/ckpt")(
      StreamingOps.ingestBatchChunks(_, s"$base/store", s"$base/out", _))
    val para = (1 to 32).map(i => s"w$i").mkString(" ")   // one full window
    val tail = (1 to 8).map(i => s"x$i").mkString(" ")
    try {
      input.addData(UrlDoc(1L, s"$para $tail"))          // chunks: [w1..w32], [w25..x8]
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$base/out").count()
      assert(b0 === 2L, s"first doc contributes its two windows: $b0")
      // doc 2 re-sends the same leading window (boilerplate) + new tail
      input.addData(UrlDoc(2L, s"$para y1 y2 y3 y4 y5 y6 y7 y8"))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$base/out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows.size === 3,
        s"shared leading window must not re-embed: $rows")
      assert(rows.contains((2L, 1L)), s"doc 2's novel tail window kept: $rows")
      assert(!rows.contains((2L, 0L)), s"doc 2's boilerplate window dropped: $rows")
    } finally q.stop()
  }

  test("ingestLoopChunkSemantic drops a PARAPHRASED boilerplate chunk (different " +
      "md5, same bag) before the embedder, keeps novel content") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-chunksem").toString
    // ≤ 24 tokens → exactly one window per doc (W=32, S=24)
    val boiler = (1 to 20).map(i => s"w$i").mkString(" ")
    // word-order paraphrase: identical token bag, different md5
    val para = (1 to 20).map(i => s"w$i").reverse.mkString(" ")
    val novel = (1 to 20).map(i => s"z$i").mkString(" ")
    // frozen centroids trained on a small history corpus (causal artifact)
    val hist = Seq((100L, boiler), (101L, novel)).toDF("doc_id", "text")
    val histEmb = graft.operators.Similarity.chunkEmbed(
      graft.operators.TrainingData.chunkTexts(hist)
        .groupBy(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("chunk_text")).as("chunk_hash"))
        .agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.col("chunk_text")).as("chunk_text")))
    val cents = graft.operators.Similarity.centroidArray(histEmb, 16)
    val input = MemoryStream[UrlDoc] // (doc_id, url) stands in for (doc_id, text)
    val q = StreamingOps.ingestLoop(
      input.toDF().withColumnRenamed("url", "text"), s"$base/ckpt")(
      StreamingOps.ingestBatchChunkSemantic(_, cents, s"$base/mem", s"$base/out", _))
    try {
      input.addData(UrlDoc(1L, boiler))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$base/out").collect().map(_.getLong(0)).toSet
      assert(b0 === Set(1L), s"first arrival of the boilerplate embeds: $b0")
      input.addData(
        UrlDoc(2L, boiler), // exact copy → dropped before embedding
        UrlDoc(3L, para),   // paraphrase: new md5, cosine 1.0 → dropped
        UrlDoc(4L, novel))  // novel content → kept
      q.processAllAvailable()
      val docs = spark.read.parquet(s"$base/out").collect().map(_.getLong(0)).toSet
      assert(docs === Set(1L, 4L),
        s"exact AND paraphrased boilerplate drop, novel keeps: $docs")
      // the member store holds exactly the two surviving chunks
      assert(spark.read.parquet(s"$base/mem").count() === 2L)
    } finally q.stop()
  }

  test("ingestBatchChunkSemantic same-batch rule: of two paraphrases arriving " +
      "together exactly one survives (smaller vec_id)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-chunksem2").toString
    val a = (1 to 20).map(i => s"q$i").mkString(" ")
    val b = (1 to 20).map(i => s"q$i").reverse.mkString(" ")
    val hist = Seq((100L, a)).toDF("doc_id", "text")
    val histEmb = graft.operators.Similarity.chunkEmbed(
      graft.operators.TrainingData.chunkTexts(hist)
        .groupBy(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("chunk_text")).as("chunk_hash"))
        .agg(org.apache.spark.sql.functions.min(
          org.apache.spark.sql.functions.col("chunk_text")).as("chunk_text")))
    val cents = graft.operators.Similarity.centroidArray(histEmb, 16)
    StreamingOps.ingestBatchChunkSemantic(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
      cents, s"$base/mem", s"$base/out", 0L)
    val out = spark.read.parquet(s"$base/out").collect()
    assert(out.length === 1,
      s"same-batch paraphrase pair collapses to one embedder row: ${out.toSeq}")
    // replay the SAME batchId (crash after both writes, before checkpoint
    // commit): the store read excludes batch=0, so the batch dedups against
    // the empty pre-append store it first saw and overwrites its own rows —
    // no duplicated embedder input, store unchanged (advisor round 13)
    StreamingOps.ingestBatchChunkSemantic(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
      cents, s"$base/mem", s"$base/out", 0L)
    val replay = spark.read.parquet(s"$base/out").collect()
    assert(replay.length === 1,
      s"replay is a fixpoint, not an append: ${replay.toSeq}")
    assert(spark.read.parquet(s"$base/mem").count() === 1L,
      "member store unchanged by the replay")
  }

  test("ingestBatchSpans store write is idempotent per batchId: a replay after " +
      "a crashed checkpoint audits against the pre-append store") {
    import spark.implicits._
    val W = graft.operators.Dedup.SpanWindow
    val base = java.nio.file.Files.createTempDirectory("graft-spanreplay").toString
    val para = (1 to W).map(i => s"p$i").mkString(" ")
    val b0 = Seq((1L, para)).toDF("doc_id", "text")
    StreamingOps.ingestBatchSpans(b0, s"$base/spans", s"$base/out0", 0L)
    // batch 1 re-uses batch 0's paragraph → exactly one history dup
    val b1 = Seq((2L, para + " t1 t2")).toDF("doc_id", "text")
    StreamingOps.ingestBatchSpans(b1, s"$base/spans", s"$base/out1", 1L)
    val firstStore = spark.read.parquet(s"$base/spans")
      .select("h").collect().map(_.getString(0)).sorted
    def auditRows() = spark.read.parquet(s"$base/out1").collect().map(_.toString).sorted.toSeq
    val firstAudit = auditRows()
    // simulate the crash-after-store-append replay: same batchId again
    StreamingOps.ingestBatchSpans(b1, s"$base/spans", s"$base/out1", 1L)
    val replayStore = spark.read.parquet(s"$base/spans")
      .select("h").collect().map(_.getString(0)).sorted
    assert(replayStore === firstStore, "replay must not grow the store")
    // the replay overwrites the first attempt's audit rows with the same
    // rows — n_hist_dup did NOT inflate from the batch's own already-stored
    // spans, and no row is emitted twice
    assert(auditRows() === firstAudit, "replay audit drifted or duplicated")
  }

  test("ingestBatchSpans: a first batch with no full window leaves an empty " +
      "store partition that the next batch still reads") {
    import spark.implicits._
    val W = graft.operators.Dedup.SpanWindow
    val base = java.nio.file.Files.createTempDirectory("graft-spanempty").toString
    // batch 0: fewer than SpanWindow tokens → no span hashes → a zero-row
    // partitioned store write (a directory with no parquet files in it)
    StreamingOps.ingestBatchSpans(Seq((1L, "too short")).toDF("doc_id", "text"),
      s"$base/spans", s"$base/out", 0L)
    val para = (1 to W).map(i => s"p$i").mkString(" ")
    StreamingOps.ingestBatchSpans(Seq((2L, para)).toDF("doc_id", "text"),
      s"$base/spans", s"$base/out", 1L)
    val audit = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_spans", "n_hist_dup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(audit === Map(1L -> ((0L, 0L)), 2L -> ((1L, 0L))), s"audit $audit")
    assert(spark.read.parquet(s"$base/spans").count() === 1L,
      "batch 1's one window lands in the store")
  }

  test("ingestLoopEmbeddingDrift: bootstrap silent, steady quiet, a cluster-mass " +
      "shift fires the alarm; replay never double-counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-embdrift").toString
    val input = MemoryStream[StreamVec]
    // the frozen serving codebook: the e1/e2 axes (cids 100, 101)
    val boot = Seq((100L, Array(1f, 0f)), (101L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotProduct(col("e"), col("e"))))
    val cents = graft.operators.Similarity.centroidArray(boot, 2)
    val q = StreamingOps.ingestLoop(
      input.toDF().select("vec_id", "embedding"), s"$base/ckpt")(
      StreamingOps.ingestBatchEmbeddingDrift(_, cents, s"$base/store", s"$base/out", _))
    def nearE1(id: Long) = StreamVec(id, Array(1f, 0.01f * id))
    def nearE2(id: Long) = StreamVec(id, Array(0.01f * id, 1f))
    try {
      // bootstrap: 3:1 mass on the e1 cluster — store seeded, no report
      input.addData(nearE1(1), nearE1(2), nearE1(3), nearE2(4))
      q.processAllAvailable()
      assert(!new java.io.File(s"$base/out").exists() ||
        spark.read.parquet(s"$base/out").count() === 0L)
      assert(spark.read.parquet(s"$base/store").groupBy("t").sum("c").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("100" -> 3L, "101" -> 1L))

      // steady batch: same 3:1 shape → quiet report
      input.addData(nearE1(5), nearE1(6), nearE1(7), nearE2(8))
      q.processAllAvailable()
      val r1 = spark.read.parquet(s"$base/out").filter(col("batch") === 1L).collect()
      assert(r1.nonEmpty, "steady batch must emit a report")
      val quietTotal = r1.head.getAs[Long]("total_psi_micro")

      // shifted batch: the mass swaps to the e2 cluster — the codebook
      // re-train trigger must fire (total PSI above the steady level)
      input.addData(nearE2(9), nearE2(10), nearE2(11), nearE1(12))
      q.processAllAvailable()
      val r2 = spark.read.parquet(s"$base/out")
        .filter(col("batch") === 2L)
        .orderBy(col("contrib_micro").desc, col("term")).collect()
      assert(r2.head.getAs[Long]("total_psi_micro") > quietTotal,
        "cluster-mass shift must raise total PSI above the steady level")
      assert(Set("100", "101").contains(r2.head.getAs[String]("term")),
        "the drifted bin must top the report")
    } finally q.stop()

    // replay: same batchId scores against the pre-append store
    val b = Seq((20L, Array(1f, 0f))).toDF("vec_id", "embedding")
    StreamingOps.ingestBatchEmbeddingDrift(b, cents, s"$base/store", s"$base/out9", 9L)
    val store1 = spark.read.parquet(s"$base/store").groupBy("t").sum("c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rep1 = spark.read.parquet(s"$base/out9")
      .select("term", "contrib_micro").collect().map(r => (r.getString(0), r.getLong(1)))
    StreamingOps.ingestBatchEmbeddingDrift(b, cents, s"$base/store", s"$base/out9", 9L)
    val store2 = spark.read.parquet(s"$base/store").groupBy("t").sum("c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(store2 === store1, "replay must not double-count the store")
    val rep2 = spark.read.parquet(s"$base/out9")
      .select("term", "contrib_micro").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rep2.length === rep1.length && rep2.toSet === rep1.toSet,
      "replayed report must overwrite its own batch partition, not append")
  }

  test("ingestLoopSemantic drops cross-batch semantic dups via the accumulated member store") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-semloop").toString
    val input = MemoryStream[StreamVec]
    // centroids trained on a 2-vector bootstrap "history" (the e1/e2 axes) —
    // the fixed causal artifact the loop serves against
    val boot = Seq((100L, Array(1f, 0f)), (101L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotProduct(col("e"), col("e"))))
    val cents = graft.operators.Similarity.centroidArray(boot, 2)
    val q = StreamingOps.ingestLoop(
      input.toDF().select("vec_id", "embedding"), s"$base/ckpt")(
      StreamingOps.ingestBatchSemantic(_, cents, s"$base/mem", s"$base/out", _))
    try {
      // batch 1: v2 is a near-exact copy of v1 (same cluster, cos ≈ 1) —
      // dropped in-batch by the first-arrival rule; v3 lives in the other
      // cluster and survives
      input.addData(
        StreamVec(1, Array(1f, 0.01f)),
        StreamVec(2, Array(1f, 0.011f)),
        StreamVec(3, Array(0.01f, 1f)))
      q.processAllAvailable()
      val kept1 = spark.read.parquet(s"$base/out")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept1 === Set(1L, 3L), s"in-batch semantic dup (2) must drop, got $kept1")
      // batch 2: v4 re-sends v1's direction — only the ACCUMULATED member
      // store can catch it; v5 shares v3's cluster but sits far away
      input.addData(
        StreamVec(4, Array(0.999f, 0.012f)),
        StreamVec(5, Array(-1f, 0.5f)))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$base/out")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L, 5L),
        s"cross-batch semantic dup (4) must drop via the store, got $kept")
      // the member store is the accumulator: one full row per survivor
      assert(spark.read.parquet(s"$base/mem").count() === 3,
        "store must hold exactly the survivors' member rows")
    } finally q.stop()
  }
}

final case class StreamVec(vec_id: Long, embedding: Array[Float])

final case class StreamDoc(doc_id: Long, source: String, text: String, ingest_ts: Timestamp)
final case class UrlDoc(doc_id: Long, url: String)
final case class CrawlDoc(doc_id: Long, url: String, text: String)
