package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ImageDedup, MediaCodec}
import graft.streaming.StreamingOps

final case class StreamImg(doc_id: Long, payload: Array[Byte])

/** The image ingest loop (`ingestLoop` over `ingestBatchMedia` with the
  * dHash fingerprinter): a re-encoded copy of a stored image must drop against
  * the accumulated fingerprint store in a LATER batch, batch-internal twins
  * keep only the first id, unrelated and undecodable payloads survive. */
class IngestImageSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def hillBmp(w: Int, h: Int, cx: Int, cy: Int): Array[Byte] = {
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val k = 3 * (y * w + x)
      val d2 = (x - cx) * (x - cx) + (y - cy) * (y - cy)
      val v = math.max(0, 255 - d2 * 255 / (w * w / 2))
      rgb(k) = v.toByte; rgb(k + 1) = v.toByte; rgb(k + 2) = v.toByte
    }
    MediaCodec.encodeBmp(w, h, rgb)
  }

  private def rampBmp(w: Int, h: Int, vertical: Boolean): Array[Byte] = {
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val k = 3 * (y * w + x)
      val v = (if (vertical) y * 255 / (h - 1) else (x + y) * 255 / (w + h - 2)).toByte
      rgb(k) = v; rgb(k + 1) = v; rgb(k + 2) = v
    }
    MediaCodec.encodeBmp(w, h, rgb)
  }

  test("cross-batch near-dup drops via the store; twins, clean, and broken payloads behave") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-imgloop").toString
    val input = MemoryStream[StreamImg]
    val q = StreamingOps.ingestLoop(input.toDF(), s"$base/ckpt")(
      StreamingOps.ingestBatchMedia(_, ImageDedup.fingerprints,
        s"$base/fp", s"$base/band", s"$base/out", _))
    val a = hillBmp(32, 32, 12, 10)
    try {
      input.addData(StreamImg(1, a), StreamImg(2, rampBmp(32, 32, vertical = true)))
      q.processAllAvailable()
      // batch 2: JPEG re-encode of A (within MaxDist of the stored dHash),
      // an unrelated diagonal ramp, a batch-internal twin pair, and garbage
      val src = MediaCodec.decodeRaster(a).get
      val gray = Array.tabulate(src.width * src.height) { k =>
        val (r, g, b) = src.pixel(k % src.width, k / src.width)
        ((299 * r + 587 * g + 114 * b) / 1000).toByte
      }
      val aJpeg = MediaCodec.encodeJpegGray(src.width, src.height, gray)
      val c = rampBmp(32, 32, vertical = false)
      input.addData(
        StreamImg(3, aJpeg), StreamImg(4, c),
        StreamImg(5, c.clone()), StreamImg(6, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out").collect().map(_.getLong(0)).toSet
      assert(out.contains(1L) && out.contains(2L), s"batch-1 survivors: $out")
      assert(!out.contains(3L), s"re-encode must drop against the store: $out")
      assert(out.contains(4L), s"unrelated image must survive: $out")
      assert(!out.contains(5L), s"batch twin of 4 must drop (4 < 5): $out")
      assert(out.contains(6L), s"undecodable payload must be kept: $out")
      // store holds only survivors' fingerprints
      val stored = spark.read.parquet(s"$base/fp").collect().map(_.getLong(0)).toSet
      assert(stored === Set(1L, 2L, 4L), s"store: $stored")
    } finally q.stop()
  }
}
