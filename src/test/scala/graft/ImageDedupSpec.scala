package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DHashBands, ImageDedup, MediaCodec, MediaRecord, Multimodal}

/** Perceptual image dedup semantics: a re-encode of the SAME picture in a
  * different format (different bytes, slightly different pixels) must dedup
  * against its original; unrelated pictures must not. The JPEG case runs the
  * full lossy round: gray → real q75 baseline encode → real decode → dHash. */
class ImageDedupSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** ITU-R 601 integer gray of a decoded raster, row-major — the same
    * formula [[ImageDedup.dhashBands]] applies post-resize. */
  private def grayBytes(r: graft.operators.Raster): Array[Byte] =
    Array.tabulate(r.width * r.height) { k =>
      val (pr, pg, pb) = r.pixel(k % r.width, k / r.width)
      ((299 * pr + 587 * pg + 114 * pb) / 1000).toByte
    }

  private def hamming(a: Array[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  /** A photo-like smooth BMP — a radial "hill" whose horizontal gradient
    * changes sign across the crest, so the dHash has a mixed bit pattern
    * (a monotone ramp would degenerate to all-ones) while staying smooth
    * enough that q75 JPEG error stays within a few gray levels. */
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

  /** Unrelated content: a vertical-only ramp — horizontal deltas are all
    * zero, so its dHash shares no gradient structure with the hill. */
  private def verticalBmp(w: Int, h: Int): Array[Byte] = {
    val rgb = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val k = 3 * (y * w + x)
      val v = (y * 255 / (h - 1)).toByte
      rgb(k) = v; rgb(k + 1) = v; rgb(k + 2) = v
    }
    MediaCodec.encodeBmp(w, h, rgb)
  }

  test("JPEG q75 re-encode of a BMP dedups against its original; unrelated image does not") {
    import spark.implicits._
    val bmp = hillBmp(32, 32, 12, 10)
    val src = MediaCodec.decodeRaster(bmp).get
    val jpeg = MediaCodec.encodeJpegGray(src.width, src.height, grayBytes(src))
    // direct distance: the lossy round flips at most MaxDist gradient bits
    val hOrig = ImageDedup.dhashBands(src)
    val hJpeg = ImageDedup.dhashBands(MediaCodec.decodeRaster(jpeg).get)
    val d = hamming(hOrig, hJpeg)
    assert(d <= ImageDedup.MaxDist, s"q75 re-encode drifted $d bits")
    val payloads = Seq(
      MediaRecord(1L, bmp), MediaRecord(2L, jpeg),
      MediaRecord(3L, verticalBmp(32, 32)))
      .toDS()
    val rows = ImageDedup.report(ImageDedup.fingerprints(spark, payloads).toDF())
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (_, _, ex1, near1) = rows(1L)
    val (_, _, ex2, near2) = rows(2L)
    // original and re-encode form one perceptual group: either hash-equal
    // (exact group of 2) or banded near-dups at Hamming 1..3
    assert(ex1 + near1 >= 2, s"original not deduped: $rows")
    assert(ex2 + near2 >= 2, s"re-encode not deduped: $rows")
    // the unrelated image pairs with nothing
    assert(rows(3L)._3 === 1L && rows(3L)._4 === 0L, s"unrelated paired: $rows")
  }

  test("corpus fixture BMPs: identical pixels hash equal through distinct formats") {
    // the same text rendered at the same dims through BMP vs PPM encoders
    // decodes to identical pixels → identical dHash (format-independence)
    val text = "the quick brown fox jumps over the lazy dog 0123456789"
    val id = 9L // % 3 == 0 → BMP dims family; render both containers directly
    val w = (8 + id % 9).toInt; val h = (8 + (id * 3) % 7).toInt
    val rgb = Array.tabulate(3 * w * h) { i =>
      val k = i / 3
      val a = text.charAt(k % text.length).toInt
      (i % 3 match {
        case 0 => a
        case 1 => (3 * a + 7) % 256
        case _ => (5 * a + 11) % 256
      }).toByte
    }
    val viaBmp = ImageDedup.dhashBands(
      MediaCodec.decodeRaster(MediaCodec.encodeBmp(w, h, rgb)).get)
    val viaPpm = ImageDedup.dhashBands(
      MediaCodec.decodeRaster(MediaCodec.encodePpm(w, h, rgb)).get)
    assert(viaBmp.toSeq === viaPpm.toSeq)
  }

  test("the persisted fingerprint artifacts equal a fresh decode, row for row " +
      "(image, audio, and video — the artifact-equals-fresh-fit discipline)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val freshImg = ImageDedup.fingerprints(spark, Tables.fanOut(docs)
      .as[(Long, String)]
      .map { case (id, t) => MediaRecord(id, Multimodal.renderFixture(id, t)) }).toDF()
    assert(rows(ImageDedup.media.fpArtifact(spark, d)) === rows(freshImg),
      "image artifact must equal a fresh decode")
    assert(rows(graft.operators.VideoDedup.media.fpArtifact(spark, d)) ===
      rows(graft.operators.VideoDedup.media.fixtureFingerprints(spark, docs)),
      "video artifact must equal a fresh container walk + decode + pooling")
    assert(rows(graft.operators.AudioDedup.media.fpArtifact(spark, d)) ===
      rows(graft.operators.AudioDedup.media.fixtureFingerprints(spark, docs)),
      "audio artifact must equal a fresh PCM decode + envelope hash")
  }

  test("undecodable payloads surface as -1 bands and join no band bucket") {
    import spark.implicits._
    val good = hillBmp(16, 16, 6, 5)
    val junk = Array[Byte](1, 2, 3, 4, 5)
    val payloads = Seq(MediaRecord(1L, good), MediaRecord(2L, junk)).toDS()
    val fp = ImageDedup.fingerprints(spark, payloads).collect()
      .map(f => f.doc_id -> f).toMap
    assert(fp(2L) === DHashBands(2L, -1L, -1L, -1L, -1L))
    val rows = ImageDedup.report(
      ImageDedup.fingerprints(spark, payloads).toDF()).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L), "junk row excluded from report")
  }
}
