package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** An ingest body runs once per micro-batch for the life of a stream, so a
  * frame it caches and does not release is one more cached RDD per batch,
  * forever. Every `StreamingOps.ingestBatch*` body must leave no RDD in
  * `getPersistentRDDs` that was not there before it ran. The check is by RDD
  * id, not by count: the context cleaner may release an earlier suite's
  * cached RDDs at any time, which lowers the count without saying anything
  * about the body. */
class IngestCacheLeakSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def cached(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def words(prefix: String): String = (1 to 20).map(i => s"$prefix$i").mkString(" ")

  test("the near-dup stream releases its cached frames: no RDD it persisted " +
      "is left after any of 4 micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-neardup-leak").toString
    val input = MemoryStream[UrlDoc] // (doc_id, url) stands in for (doc_id, text)
    val q = StreamingOps.ingestLoop(input.toDF().withColumnRenamed("url", "text"),
      s"$base/ckpt")(StreamingOps.ingestBatchNearDup(
        _, s"$base/sig", s"$base/band", s"$base/out", _))
    val before = cached()
    val after = try (0 until 4).map { i =>
      input.addData(UrlDoc(2L * i, words("w")), UrlDoc(2L * i + 1, words(s"v$i")))
      q.processAllAvailable()
      (cached() -- before).size
    } finally q.stop()
    assert(after === Seq(0, 0, 0, 0), "RDDs left persisted after each batch")
    assert(spark.read.parquet(s"$base/out").count() === 5L,
      "doc 0 and each batch's novel doc survive; every later copy of doc 0 drops")
  }

  test("no ingestBatch* body leaves a persisted RDD behind over 3 batches") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-leak").toString
    // the frozen artifacts the bodies serve against are built (and cached)
    // before anything is counted
    val bodies = IngestBodies(spark)
    val leaks = bodies.flatMap { body =>
      val before = cached()
      (0 until 3).foreach(body.run(base, _))
      val left = cached() -- before
      if (left.isEmpty) None else Some(s"${body.name}: ${left.size}")
    }
    assert(leaks.isEmpty, s"bodies that leave cached RDDs behind: ${leaks.mkString("; ")}")
  }
}
