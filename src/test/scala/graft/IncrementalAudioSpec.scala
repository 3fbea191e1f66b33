package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AudioDedup, ImageDedup, MediaCodec, MediaRecord}
import graft.sources.ParquetSink

/** `dedup_incremental_audio` drop paths with REAL WAV payloads (the
  * corpus fixture's envelope hashes are all isolated at test scale, so
  * the paths are pinned on constructed clips): a near-copy at measured
  * Hamming 1–3 drops against the persisted history store, an exact
  * in-batch copy drops against its earlier-id twin, an unrelated clip
  * survives. Plus registered-query store reuse. */
class IncrementalAudioSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def clip(n: Int, seed: Int): Array[Short] =
    Array.tabulate(n)(k => (((k * 37 + seed) % 4001) - 2000).toShort)

  private def fp(samples: Array[Short]): Array[Long] =
    AudioDedup.afpBands(MediaCodec.decodeAudioPcm(MediaCodec.encodeWav(8000, samples)).get._2)

  private def hamming(a: Array[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  test("history near-copy and in-batch exact copy drop; unrelated survives") {
    import spark.implicits._
    val base = clip(130, 13)
    val h0 = fp(base)
    val nearCopy = (10 until 55).iterator.map { j =>
      val c = base.clone(); c(2 * j) = 32767.toShort; c
    }.find { c => val d = hamming(h0, fp(c)); d >= 1 && d <= ImageDedup.MaxDist }.get
    val unrelated = clip(97, 1777)

    val histFp = AudioDedup.fingerprints(spark,
      Seq(MediaRecord(1L, MediaCodec.encodeWav(8000, base))).toDS()).toDF()
    val fpStore = ParquetSink.writeBucketed(histFp, "aud_inc_fp_rule", "doc_id", 4)
    val bandStore = ParquetSink.writeBucketed(
      ImageDedup.bandRows(histFp), "aud_inc_band_rule", "bh", 4)

    val batchFp = AudioDedup.fingerprints(spark, Seq(
      MediaRecord(10L, MediaCodec.encodeWav(8000, nearCopy)),   // near history
      MediaRecord(11L, MediaCodec.encodeWav(8000, unrelated)),  // clean
      MediaRecord(12L, MediaCodec.encodeWav(16000, unrelated))  // exact in-batch dup of 11
    ).toDS()).toDF()
    val dropped = ImageDedup.incrementalDropped(batchFp, fpStore, bandStore)
      .collect().map(_.getLong(0)).toSet
    assert(dropped === Set(10L, 12L), s"dropped $dropped")
  }

  test("registered query is deterministic and reuses the persisted store") {
    val dir = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("dedup_incremental_audio")(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    val first = run()
    assert(first.nonEmpty && first === first.sorted)
    assert(run() === first, "second run serves from the persisted store")
  }

  test("ingestLoopAudio drops a near-copy stored one batch earlier") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = clip(130, 13)
    val h0 = fp(base)
    val nearCopy = (10 until 55).iterator.map { j =>
      val c = base.clone(); c(2 * j) = 32767.toShort; c
    }.find { c => val d = hamming(h0, fp(c)); d >= 1 && d <= ImageDedup.MaxDist }.get
    val tmp = java.nio.file.Files.createTempDirectory("graft-audloop").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.StreamingOps.ingestLoop(
      input.toDF().toDF("doc_id", "payload"), s"$tmp/ckpt")(
      graft.streaming.StreamingOps.ingestBatchMedia(
        _, AudioDedup.fingerprints, s"$tmp/fp", s"$tmp/band", s"$tmp/out", _))
    try {
      input.addData((1L, MediaCodec.encodeWav(8000, base)))
      q.processAllAvailable()
      input.addData(
        (2L, MediaCodec.encodeWav(8000, nearCopy)),     // near the stored clip
        (3L, MediaCodec.encodeWav(8000, clip(97, 1777))), // unrelated
        (4L, Array[Byte](1, 2, 3)))                      // undecodable
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L, 4L),
        s"near-copy must drop at ingest, undecodable payload must be kept: $kept")
    } finally q.stop()
  }
}
