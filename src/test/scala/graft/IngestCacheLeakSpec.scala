package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ImageDedup, MediaCodec, Similarity}
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
      s"$base/ckpt")((b, _) => StreamingOps.ingestBatchNearDup(
        b, s"$base/sig", s"$base/band", s"$base/out"))
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
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-leak").toString
    def texts(i: Int): DataFrame = Seq(
      (10L * i, words("w")), (10L * i + 1, words(s"v$i")),
      (10L * i + 2, words(s"v$i").split(" ").reverse.mkString(" ")))
      .toDF("doc_id", "text")
    def urls(i: Int): DataFrame = Seq((10L * i, "https://example.org/a"),
      (10L * i + 1, s"http://www.example.org/p$i/")).toDF("doc_id", "url")
    val rnd = new scala.util.Random(11)
    def vecs(i: Int): DataFrame = (0 until 4).map(j =>
      (10L * i + j, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    def bmp(shade: Int): Array[Byte] = {
      val rgb = Array.tabulate(3 * 16 * 16)(k => ((k / 3 % 16) * shade % 256).toByte)
      MediaCodec.encodeBmp(16, 16, rgb)
    }
    def images(i: Int): DataFrame =
      Seq((10L * i, bmp(16)), (10L * i + 1, bmp(3 + i))).toDF("doc_id", "payload")

    // the frozen artifacts the bodies serve against, built (and cached)
    // before anything is counted
    val hist = Similarity.withNorm((100L until 116L).map(j =>
      (j, Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("vec_id", "embedding"))
    val cents = Similarity.kmeansCentroidArray(hist, 2, 1).cache()
    val cb = Similarity.ivfPqCodebook(hist, 8, cents, 1).cache()
    val chunkCents = Similarity.centroidArray(Similarity.chunkEmbed(
      graft.operators.TrainingData.chunkTexts(texts(9))
        .groupBy(md5(col("chunk_text")).as("chunk_hash"))
        .agg(min(col("chunk_text")).as("chunk_text"))), 4).cache()
    Seq(cents, cb, chunkCents).foreach(_.count())

    def at(name: String) = s"$base/$name"
    val bodies: Seq[(String, Int => Unit)] = Seq(
      "ingestBatch" -> (i => StreamingOps.ingestBatch(texts(i), at("fp"), at("fp_out"))),
      "ingestBatchSemantic" -> (i => StreamingOps.ingestBatchSemantic(
        vecs(i), cents, at("sem"), at("sem_out"))),
      "ingestBatchNearDup" -> (i => StreamingOps.ingestBatchNearDup(
        texts(i), at("nd_sig"), at("nd_band"), at("nd_out"))),
      "ingestBatchMedia" -> (i => StreamingOps.ingestBatchMedia(
        images(i), ImageDedup.fingerprints, at("img_fp"), at("img_band"), at("img_out"))),
      "ingestBatchChunks" -> (i => StreamingOps.ingestBatchChunks(
        texts(i), at("chunks"), at("chunks_out"))),
      "ingestBatchChunkSemantic" -> (i => StreamingOps.ingestBatchChunkSemantic(
        texts(i), chunkCents, at("chunk_mem"), at("chunk_sem_out"), i.toLong)),
      "ingestBatchUrl" -> (i => StreamingOps.ingestBatchUrl(urls(i), at("url"), at("url_out"))),
      "ingestBatchIvfPq" -> (i => StreamingOps.ingestBatchIvfPq(
        vecs(i), cents, cb, 8, at("codes"), i.toLong)),
      "ingestBatchSpans" -> (i => StreamingOps.ingestBatchSpans(
        texts(i), at("spans"), at("spans_out"), i.toLong)),
      "ingestBatchDrift" -> (i => StreamingOps.ingestBatchDrift(
        texts(i), at("drift"), at("drift_out"), i.toLong)),
      "ingestBatchEmbeddingDrift" -> (i => StreamingOps.ingestBatchEmbeddingDrift(
        vecs(i), cents, at("edrift"), at("edrift_out"), i.toLong)))
    val leaks = bodies.flatMap { case (name, body) =>
      val before = cached()
      (0 until 3).foreach(body)
      val left = cached() -- before
      if (left.isEmpty) None else Some(s"$name: ${left.size}")
    }
    assert(leaks.isEmpty, s"bodies that leave cached RDDs behind: ${leaks.mkString("; ")}")
  }
}
