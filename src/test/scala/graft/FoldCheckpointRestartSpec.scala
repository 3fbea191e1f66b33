package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.model.OrderedUpdateEvent
import graft.operators.{InventoryFold, InventoryParity}
import graft.streaming.{InventoryStream, KeyedCount, Scd2Interval}

/** KILL-AND-RESUME for the flagship fold (r17 verdict item 3): the
  * reference's changelog-restore guarantee
  * (KafkaStreamsInventoryCountApplication.java:50-52 — a restarted
  * instance rebuilds its KTable state from the changelog topic and
  * continues as if never stopped) expressed as Structured Streaming's
  * checkpoint contract: stop the stream MID-CORPUS, start a brand-new
  * query from the same checkpoint + source, feed the remainder, and the
  * final state must be row-identical to the uninterrupted run AND to the
  * oracled batch twin. The state store restore is the part under test —
  * a fold that silently re-initialized per query would converge to the
  * tail's fold, not the full corpus's. */
class FoldCheckpointRestartSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def realEvents(): Array[OrderedUpdateEvent] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    InventoryFold.asUpdateEvents(Tables.events(spark, d))
      .select(col("product_code").as("productCode"),
        col("event_order").as("eventOrder"), col("action"), col("delta"))
      .as[OrderedUpdateEvent].collect().sortBy(_.eventOrder)
  }

  /** Runs `batches` through `mkStream`, stopping and re-starting the query
    * from the same checkpoint after `killAfter` batches. Every (batchId,
    * row) emission lands in the returned buffer; restart replays are
    * harmless because callers fold by batchId (last-write-wins / set).
    * `firstRunConf` is set on the session for the first query only (unset
    * again once it has stopped), so the resumed query reads a checkpoint
    * written under a different configuration. */
  private def runWithRestart[T](
      batches: Seq[Seq[OrderedUpdateEvent]], killAfter: Int,
      mkStream: org.apache.spark.sql.Dataset[OrderedUpdateEvent] =>
        org.apache.spark.sql.Dataset[T],
      firstRunConf: Map[String, String] = Map.empty): Seq[(Long, T)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fold-ckpt").toString
    val emitted = mutable.ArrayBuffer.empty[(Long, T)]
    val input = MemoryStream[OrderedUpdateEvent]
    def start() = mkStream(input.toDS())
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[T], bid: Long) =>
        val rows = batch.collect()
        emitted.synchronized { emitted ++= rows.map(bid -> _) }
        ()
      }
      .start()
    firstRunConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q1 = start()
      try {
        batches.take(killAfter).foreach { b =>
          input.addData(b); q1.processAllAvailable()
        }
      } finally q1.stop() // the mid-corpus kill
    } finally firstRunConf.keys.foreach(spark.conf.unset)
    val q2 = start()    // brand-new query, same checkpoint: state restores
    try {
      batches.drop(killAfter).foreach { b =>
        input.addData(b); q2.processAllAvailable()
      }
    } finally q2.stop()
    emitted.synchronized { emitted.sortBy(_._1).toSeq }
  }

  test("foldStream killed mid-corpus and resumed from the checkpoint " +
      "converges to the uninterrupted run's final counts and the batch " +
      "fold oracle (the reference's changelog-restore guarantee)") {
    val events = realEvents()
    assert(events.nonEmpty)
    val batches = events.grouped(math.max(1, (events.length + 3) / 4))
      .map(_.toSeq).toSeq
    assert(batches.size >= 3, "need a real mid-corpus kill point")

    def lastWriteWins(rows: Seq[(Long, KeyedCount)]): Map[String, Int] =
      rows.map(_._2).foldLeft(Map.empty[String, Int]) { (m, kc) =>
        kc.count match {
          case Some(c) => m + (kc.productCode -> c)
          case None    => m - kc.productCode
        }
      }

    val restarted = lastWriteWins(
      runWithRestart(batches, killAfter = 2, InventoryStream.foldStream))
    val uninterrupted = lastWriteWins(
      runWithRestart(batches, killAfter = batches.size, InventoryStream.foldStream))
    assert(restarted === uninterrupted,
      "resume-from-checkpoint must be invisible in the final state")

    // a checkpoint written under Hadoop's stock FileContext filesystem (as
    // older builds did) resumes under graft's; `seen` holds the filesystem
    // each query was built, and its checkpoint opened, under
    val stockFs = "org.apache.hadoop.fs.local.LocalFs"
    val seen = mutable.ArrayBuffer.empty[String]
    val resumedFromStock = lastWriteWins(runWithRestart(batches, killAfter = 2,
      ds => {
        seen += org.apache.hadoop.fs.FileContext.getFileContext(new java.net.URI("file:///"),
          spark.sessionState.newHadoopConf()).getDefaultFileSystem.getClass.getName
        InventoryStream.foldStream(ds)
      },
      firstRunConf = Map("fs.AbstractFileSystem.file.impl" -> stockFs)))
    assert(seen.toSeq === Seq(stockFs, classOf[ForkFreeLocalFs].getName))
    assert(resumedFromStock === uninterrupted,
      "a checkpoint from Hadoop's stock local filesystem must resume unchanged")

    // and both equal the oracled batch fold over the same corpus
    val batchFold = InventoryFold.query(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(restarted === batchFold,
      s"restarted stream vs batch fold: extra=${(restarted.toSet -- batchFold.toSet).take(3)} " +
        s"missing=${(batchFold.toSet -- restarted.toSet).take(3)}")
  }

  test("scd2Stream killed mid-corpus and resumed reconstructs the batch " +
      "SCD2 table row-for-row (closed intervals survive the restart as " +
      "append-only facts; the open row upserts)") {
    val events = realEvents()
    val batches = events.grouped(math.max(1, (events.length + 3) / 4))
      .map(_.toSeq).toSeq

    def finalTable(killAfter: Int): Set[(String, Long, Long, Long, Boolean)] = {
      val ordered = runWithRestart(batches, killAfter, InventoryStream.scd2Stream)
        .map(_._2)
      val closed = ordered.filter(!_.isCurrent)
      assert(closed.distinct.size === closed.size,
        "closed intervals must not re-emit across the restart (commits were " +
          "drained before the kill; replay would duplicate facts)")
      val currents = ordered.filter(_.isCurrent)
        .foldLeft(Map.empty[String, Scd2Interval])((m, r) => m + (r.productCode -> r))
      (closed ++ currents.values)
        .map(r => (r.productCode, r.validFrom, r.validTo, r.invCount, r.isCurrent))
        .toSet
    }

    val streamed = finalTable(killAfter = 2)
    // the SCD2 state (open intervals per key) is strictly richer than the
    // fold's running count — pin the restore DIRECTLY against an
    // uninterrupted run, not only transitively through the batch oracle
    val uninterrupted = finalTable(killAfter = batches.size)
    assert(streamed === uninterrupted,
      "resume-from-checkpoint must be invisible in the final SCD2 table")
    val batch = InventoryParity.scd2.run(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(streamed === batch,
      s"stream-batch diff after restart: extra=${(streamed -- batch).take(3)} " +
        s"missing=${(batch -- streamed).take(3)}")
  }
}
