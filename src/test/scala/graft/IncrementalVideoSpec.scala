package graft

import org.scalatest.funsuite.AnyFunSuite

/** `dedup_incremental_video` drop paths on planted copies. Clip geometry
  * derives from doc_id mod 4 (block cols) and mod 3 (frame count,
  * stride), so ids congruent mod 12 render the same text to the SAME
  * clip. Fixture: history doc 0 and batch docs 48 and 108 (all ≡ 0
  * mod 12, last digit 8) share one text: 48 must drop against the
  * persisted history store, 108 against both history and its earlier-id
  * batch twin; an unrelated batch doc must survive. Second run reuses
  * the persisted store. Plus the streaming twin: a re-crawled clip
  * stored one batch earlier drops at ingest time. */
class IncrementalVideoSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("history store match and earlier-batch match both drop; clean doc survives") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, shared),                      // history (0 % 10 = 0)
      (1L, "history only filler text"),  // history
      (48L, shared),                     // batch, same clip as doc 0
      (108L, shared),                    // batch, same clip as 0 AND 48
      (9L, "a completely different document"))
      .map { case (id, t) => (id, t, "xx", "srcX", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft-incvid")
    docs.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    val kept = SparkEntry.queries("dedup_incremental_video")(spark, tmp.toString)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(9L), s"kept $kept")
    val again = SparkEntry.queries("dedup_incremental_video")(spark, tmp.toString)
      .collect().map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("ingestLoopVideo drops a re-encoded clip stored one batch earlier") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.MediaCodec
    val bw = 3; val w = 8 * bw; val h = 32
    def frame(v: (Int, Int) => Int, q: Int): Array[Byte] = {
      val gray = new Array[Byte](w * h)
      for (y <- 0 until h; x <- 0 until w) gray(y * w + x) = v(y / 8, x / 8).toByte
      MediaCodec.encodeJpegGray(w, h, gray, q)
    }
    def steady(f: Int)(r: Int, c: Int): Int = 30 + 25 * c + 3 * r + f
    val orig = MediaCodec.encodeAviMjpeg(w, h,
      (0 until 6).map(f => frame(steady(f), 75)), fps = 10)
    val reenc = MediaCodec.encodeAviMjpeg(w, h,
      (1 until 7).map(f => frame(steady(f), 40)), fps = 10)
    val other = MediaCodec.encodeAviMjpeg(w, h,
      (0 until 6).map(f => frame((r, c) => 30 + 25 * (2 - c) + 3 * r + f, 75)), fps = 10)

    val base = java.nio.file.Files.createTempDirectory("graft-vidloop").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.StreamingOps.ingestLoop(
      input.toDF().toDF("doc_id", "payload"), s"$base/ckpt")(
      graft.streaming.StreamingOps.ingestBatchMedia(_,
        (s, ds) => graft.operators.VideoDedup.fingerprints(s, ds, _ => 1),
        s"$base/fp", s"$base/band", s"$base/out", _))
    try {
      input.addData((1L, orig))
      q.processAllAvailable()
      input.addData((2L, reenc), (3L, other), (4L, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$base/out").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L, 4L),
        s"re-encoded clip must drop against the stored signature, " +
          s"undecodable payload must be kept: $kept")
    } finally q.stop()
  }
}
