package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MediaCodec, Multimodal}

/** Codec round-trip and malformed-input behavior of every media decoder,
  * against an independent stats model over the raw RGB array. */
class MediaCodecSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Independent model: stats straight off the top-down row-major array. */
  private def model(fmt: String, w: Int, h: Int, rgb: Array[Byte]) = {
    val px = rgb.map(_ & 0xff)
    val r = (0 until w * h).map(k => px(3 * k))
    val g = (0 until w * h).map(k => px(3 * k + 1))
    val b = (0 until w * h).map(k => px(3 * k + 2))
    val pos = (0 until w * h).map(k => (k + 1).toLong * (r(k) + 2L * g(k) + 3L * b(k))).sum
    operators.DecodedImage(fmt, w, h, r.map(_.toLong).sum, g.map(_.toLong).sum,
      b.map(_.toLong).sum, pos)
  }

  private def rgbFill(w: Int, h: Int): Array[Byte] =
    Array.tabulate(3 * w * h)(i => ((i * 37 + 11) % 256).toByte)

  test("BMP round-trips: padded widths, 1x1, bottom-up and top-down") {
    for ((w, h) <- Seq((1, 1), (3, 2), (5, 4), (8, 8), (9, 3), (16, 14))) {
      val rgb = rgbFill(w, h)
      // w=3,5,9: 3w not a multiple of 4 -> real row padding in the file
      val up = MediaCodec.decode(MediaCodec.encodeBmp(w, h, rgb))
      assert(up.contains(model("bmp", w, h, rgb)), s"bottom-up ${w}x$h")
      val down = MediaCodec.decode(MediaCodec.encodeBmp(w, h, rgb, topDown = true))
      assert(down.contains(model("bmp", w, h, rgb)), s"top-down ${w}x$h")
    }
  }

  test("PPM round-trips, including a comment-bearing header") {
    val (w, h) = (7, 5)
    val rgb = rgbFill(w, h)
    assert(MediaCodec.decode(MediaCodec.encodePpm(w, h, rgb))
      .contains(model("ppm", w, h, rgb)))
    val commented = s"P6 # fixture\n# another comment\n $w\t$h\n255\n"
      .getBytes("US-ASCII") ++ rgb
    assert(MediaCodec.decode(commented).contains(model("ppm", w, h, rgb)))
  }

  test("row and channel order are pinned by the position checksum") {
    // two rows with distinct values: flipping rows or swapping R/B would
    // keep the sums but change pos_hash
    val (w, h) = (2, 2)
    val rgb = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val m = model("bmp", w, h, rgb)
    assert(MediaCodec.decode(MediaCodec.encodeBmp(w, h, rgb)).contains(m))
    val flipped = model("bmp", w, h,
      rgb.grouped(3 * w).toSeq.reverse.flatten.toArray)
    assert(m.posHash !== flipped.posHash, "test must be order-sensitive")
  }

  test("malformed payloads are rejected, not mis-decoded") {
    val rgb = rgbFill(4, 4)
    val bmp = MediaCodec.encodeBmp(4, 4, rgb)
    assert(MediaCodec.decode(bmp.take(bmp.length - 5)) === None, "truncated BMP")
    val ppm = MediaCodec.encodePpm(4, 4, rgb)
    assert(MediaCodec.decode(ppm.take(ppm.length - 5)) === None, "truncated PPM")
    assert(MediaCodec.decode("JFIFnotsupported".getBytes) === None, "unknown magic")
    assert(MediaCodec.decode(("P6\n4 4\n65535\n".getBytes("US-ASCII")
      ++ rgb ++ rgb) ) === None, "16-bit maxval unsupported")
    assert(MediaCodec.decode(Array[Byte]('B', 'M')) === None, "header too short")
  }

  test("imageFeatures surfaces undecodable payloads as null-format rows") {
    import spark.implicits._
    val recs = Seq(
      operators.MediaRecord(1L, Multimodal.renderFixture(1L, "hello world")),
      operators.MediaRecord(2L, "not an image".getBytes))
    val out = Multimodal.imageFeatures(spark, recs.toDS()).collect()
    val byId = out.map(f => f.doc_id -> f).toMap
    assert(byId(1L).format === "ppm") // odd doc_id -> PPM fixture
    assert(byId(1L).n_pixels === byId(1L).width * byId(1L).height)
    assert(byId(2L).format === null)
    assert(byId(2L).width === -1L)
  }

  test("fixture decode matches the fixture formulas end-to-end") {
    // the query's whole premise: decoding the rendered file recovers the
    // stats the oracle computes from the text directly
    val text = "graft fixture pixels"
    for (docId <- 0L to 5L) {
      val w = (8 + docId % 9).toInt
      val h = (8 + (docId * 3) % 7).toInt
      val av = (0 until w * h).map(k => text.charAt(k % text.length).toInt & 0xff)
      val img = MediaCodec.decode(Multimodal.renderFixture(docId, text)).get
      assert(img.width === w && img.height === h)
      assert(img.sumR === av.map(_.toLong).sum)
      assert(img.sumG === av.map(a => ((3 * a + 7) % 256).toLong).sum)
      assert(img.sumB === av.map(a => ((5 * a + 11) % 256).toLong).sum)
      assert(img.format === (docId % 3 match {
        case 0 => "bmp"; case 1 => "ppm"; case _ => "png"
      }))
    }
  }

  test("PNG round-trips: all five scanline filters, odd widths, 1x1") {
    // encodePng filters row y with type y%5, so h >= 5 exercises every
    // unfilter path (None/Sub/Up/Average/Paeth) through a real inflate
    for ((w, h) <- Seq((1, 1), (3, 2), (5, 7), (8, 8), (9, 5), (16, 14))) {
      val rgb = rgbFill(w, h)
      assert(MediaCodec.decode(MediaCodec.encodePng(w, h, rgb))
        .contains(model("png", w, h, rgb)), s"png ${w}x$h")
    }
  }

  test("PNG rejects corruption and unsupported layouts") {
    val rgb = rgbFill(6, 6)
    val png = MediaCodec.encodePng(6, 6, rgb)
    assert(MediaCodec.decode(png.take(png.length - 6)) === None, "truncated file")
    // flip one IDAT payload byte -> CRC mismatch must reject
    val corrupt = png.clone()
    val idatAt = {
      var i = 8
      while (!(corrupt(i + 4) == 'I' && corrupt(i + 5) == 'D' &&
        corrupt(i + 6) == 'A' && corrupt(i + 7) == 'T')) {
        i += 12 + ((corrupt(i) & 0xff) << 24 | (corrupt(i + 1) & 0xff) << 16 |
          (corrupt(i + 2) & 0xff) << 8 | (corrupt(i + 3) & 0xff))
      }
      i + 8
    }
    corrupt(idatAt) = (corrupt(idatAt) ^ 0x55).toByte
    assert(MediaCodec.decode(corrupt) === None, "bit-flipped IDAT (CRC)")
    // RGBA (color type 6) is outside the supported subset: patch IHDR's
    // color-type byte and re-CRC the chunk so ONLY the layout is wrong
    val rgba = png.clone()
    rgba(8 + 8 + 9) = 6
    val crc = new java.util.zip.CRC32()
    crc.update(rgba, 12, 4 + 13)
    val cv = crc.getValue.toInt
    rgba(8 + 8 + 13) = (cv >>> 24).toByte; rgba(8 + 8 + 14) = (cv >>> 16).toByte
    rgba(8 + 8 + 15) = (cv >>> 8).toByte; rgba(8 + 8 + 16) = cv.toByte
    assert(MediaCodec.decode(rgba) === None, "RGBA layout unsupported")
    // hostile IHDR: dimensions whose raster overflows int (or demands a
    // multi-GB allocation) must reject like BMP/PPM's length guards, not
    // throw — re-CRC'd so only the dimensions are wrong
    def withDims(w: Int, h: Int): Array[Byte] = {
      val p = png.clone()
      p(16) = (w >>> 24).toByte; p(17) = (w >>> 16).toByte
      p(18) = (w >>> 8).toByte; p(19) = w.toByte
      p(20) = (h >>> 24).toByte; p(21) = (h >>> 16).toByte
      p(22) = (h >>> 8).toByte; p(23) = h.toByte
      val c = new java.util.zip.CRC32()
      c.update(p, 12, 4 + 13)
      val cv = c.getValue.toInt
      p(29) = (cv >>> 24).toByte; p(30) = (cv >>> 16).toByte
      p(31) = (cv >>> 8).toByte; p(32) = cv.toByte
      p
    }
    assert(MediaCodec.decode(withDims(0x2AAAAAAB, 6)) === None, "stride overflow")
    assert(MediaCodec.decode(withDims(100000, 100000)) === None, "raster cap")
    assert(MediaCodec.decode(withDims(-6, 6)) === None, "negative width")
  }

  test("WAV round-trip: signed samples, order checksum, duration") {
    val samples = Array[Short](100, -200, 3000, -4000, 0, 32767, -32768)
    val a = MediaCodec.decodeAudio(MediaCodec.encodeWav(16000, samples)).get
    assert(a.sampleRate === 16000)
    assert(a.nSamples === samples.length)
    assert(a.durationMicros === samples.length * 1000000L / 16000)
    assert(a.sumAbs === samples.map(s => math.abs(s.toLong)).sum)
    assert(a.posHash === samples.zipWithIndex.map { case (s, k) => (k + 1L) * s }.sum)
  }

  test("WAV chunk walking: LIST chunk between fmt and data, odd-size padding") {
    val wav = MediaCodec.encodeWav(8000, Array[Short](5, -5, 7))
    // splice an odd-sized LIST chunk (3 bytes + 1 pad) between fmt and data
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 'I', 'N', 'F', 0)
    val spliced = wav.take(36) ++ listChunk ++ wav.drop(36)
    // RIFF size field is now stale; the walker must not rely on it
    val a = MediaCodec.decodeAudio(spliced).get
    assert(a.nSamples === 3)
    assert(a.sumAbs === 17)
  }

  test("WAV decode rejects what it cannot faithfully read") {
    val good = MediaCodec.encodeWav(8000, Array[Short](1, 2))
    assert(MediaCodec.decodeAudio("RIFFnope".getBytes).isEmpty)
    assert(MediaCodec.decodeAudio(good.take(30).toArray).isEmpty, "truncated")
    val stereo = good.clone(); stereo(22) = 2 // numChannels = 2
    assert(MediaCodec.decodeAudio(stereo).isEmpty, "stereo unsupported")
    val eightBit = good.clone(); eightBit(34) = 8
    assert(MediaCodec.decodeAudio(eightBit).isEmpty, "8-bit unsupported")
    // a chunk size near Int.MaxValue must reject, not wrap the bound check
    val huge = good.clone()
    huge(16) = 0xf0.toByte; huge(17) = 0xff.toByte; huge(18) = 0xff.toByte; huge(19) = 0x7f
    assert(MediaCodec.decodeAudio(huge).isEmpty, "fmt chunk size 0x7FFFFFF0")
  }

  test("audio fixture decode matches the fixture formulas end-to-end") {
    val text = "graft fixture samples"
    for (docId <- 0L to 5L) {
      val n = (50 + docId % 30).toInt
      val sv = (0 until n).map { k =>
        (text.charAt(k % text.length).toInt * 131 + 7 * k) % 4096 - 2048
      }
      val a = MediaCodec.decodeAudio(Multimodal.renderAudioFixture(docId, text)).get
      assert(a.sampleRate === 8000 + (docId % 5) * 1000)
      assert(a.nSamples === n)
      assert(a.sumAbs === sv.map(s => math.abs(s.toLong)).sum)
      assert(a.posHash === sv.zipWithIndex.map { case (s, k) => (k + 1L) * s }.sum)
    }
  }

  // ---- JPEG (baseline sequential grayscale) ----

  /** Deterministic non-flat gray test image: gradient + texture, real DCT
    * content in every block. */
  private def grayFill(w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h) { k =>
      val x = k % w; val y = k / w
      ((x * 13 + y * 29 + (x * y) % 31 + 40) % 256).toByte
    }

  private def imageIoDecodeGray(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w) out(y * w + x) = raster.getSample(x, y, 0)
    (w, h, out)
  }

  test("JPEG flat-mosaic round-trip is BIT-EXACT at quality 75 (DC step 8)") {
    // 8×8-constant blocks: FDCT leaves only DC = 8·(c−128); the q75 DC
    // quantizer step is exactly 8, so nothing is lost — the construction
    // the multimodal_jpeg oracle relies on
    for ((bw, bh) <- Seq((1, 1), (3, 2), (2, 1))) {
      val w = 8 * bw; val h = 8 * bh
      val gray = Array.tabulate(w * h) { k =>
        val block = (k / w / 8) * bw + (k % w) / 8
        (33 + (block * 29) % 94).toByte // ASCII-range block constants
      }
      val enc = MediaCodec.encodeJpegGray(w, h, gray, quality = 75)
      assert((enc(0) & 0xff) === 0xff && (enc(1) & 0xff) === 0xd8)
      val (dw, dh, px) = MediaCodec.decodeJpegGray(enc).get
      assert((dw, dh) === (w, h))
      assert(px.toSeq === gray.map(_ & 0xff).toSeq, s"mosaic ${w}x$h must be exact")
    }
  }

  test("JPEG non-flat content: our decoder matches javax.imageio on our encoder's stream") {
    for ((w, h) <- Seq((8, 8), (24, 16), (20, 12), (17, 9))) { // incl. non-multiple-of-8
      val gray = grayFill(w, h)
      val enc = MediaCodec.encodeJpegGray(w, h, gray, quality = 85)
      val (dw, dh, ours) = MediaCodec.decodeJpegGray(enc).get
      val (iw, ih, ref) = imageIoDecodeGray(enc)
      assert((dw, dh) === (w, h) && (iw, ih) === (w, h))
      val maxDiff = ours.zip(ref).map { case (a, b) => math.abs(a - b) }.max
      // T.81 permits ±1 IDCT variance between conforming implementations
      assert(maxDiff <= 1, s"${w}x$h: max per-pixel diff $maxDiff vs ImageIO")
    }
  }

  test("multimodal_jpeg fixture decodes to the oracle's block-formula stats") {
    for (docId <- Seq(0L, 1L, 2L, 5L, 7L)) {
      val text = "the quick brown fox jumps over the lazy dog"
      val img = MediaCodec.decode(Multimodal.renderJpegFixture(docId, text)).get
      val bw = (1 + docId % 3).toInt; val bh = (1 + (docId * 5) % 2).toInt
      val w = 8 * bw; val h = 8 * bh
      assert(img.format === "jpeg" && img.width === w && img.height === h)
      val bv = Array.tabulate(bw * bh)(i => text.charAt(i % text.length).toInt)
      assert(img.sumR === 64L * bv.sum)
      assert(img.sumG === img.sumR && img.sumB === img.sumR)
      val pos = (0 until w * h).map { k =>
        (k + 1).toLong * 6L * bv((k / w / 8) * bw + (k % w) / 8)
      }.sum
      assert(img.posHash === pos)
    }
  }

  test("JPEG decoder rejects malformed and out-of-scope streams") {
    assert(MediaCodec.decodeJpegGray(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    assert(MediaCodec.decodeJpegGray("not a jpeg".getBytes).isEmpty)
    val good = MediaCodec.encodeJpegGray(8, 8, grayFill(8, 8))
    assert(MediaCodec.decodeJpegGray(good.take(good.length / 2)).isEmpty, "truncated")
    // an 8x8 stream whose SOF0 declares 65535x65535: rejected at the header,
    // before a 4 Gi-pixel raster is allocated
    val bomb = good.clone()
    val sof = bomb.indices.find(i => (bomb(i) & 0xff) == 0xff && (bomb(i + 1) & 0xff) == 0xc0).get
    for (i <- sof + 5 to sof + 8) bomb(i) = 0xff.toByte // height, width
    assert(MediaCodec.decodeJpegGray(bomb).isEmpty, "65535x65535 SOF0")
  }

  /** Independent nearest-neighbor model: sample the source array by the
    * floor-division index rule, then stats over the sampled array. */
  private def resizeModel(fmt: String, w: Int, h: Int, rgb: Array[Byte],
      tw: Int, th: Int) = {
    val out = new Array[Byte](3 * tw * th)
    for (y <- 0 until th; x <- 0 until tw) {
      val sx = x * w / tw; val sy = y * h / th
      for (c <- 0 until 3) out(3 * (y * tw + x) + c) = rgb(3 * (sy * w + sx) + c)
    }
    model(fmt, tw, th, out)
  }

  test("nearest-neighbor resize matches the index-rule model, up and down") {
    val (w, h) = (9, 7)
    val rgb = rgbFill(w, h)
    val src = MediaCodec.decodeRaster(MediaCodec.encodeBmp(w, h, rgb)).get
    for ((tw, th) <- Seq((4, 3), (9, 7), (16, 14), (1, 1), (5, 11))) {
      val got = MediaCodec.stats(MediaCodec.resizeNearest(src, tw, th))
      assert(got === resizeModel("bmp", w, h, rgb, tw, th), s"${tw}x$th")
    }
    // identity resize preserves the original stats exactly
    assert(MediaCodec.stats(MediaCodec.resizeNearest(src, w, h)) ===
      MediaCodec.stats(src))
  }

  test("resize composes with every decode format") {
    val (w, h) = (8, 6)
    val rgb = rgbFill(w, h)
    for (enc <- Seq(MediaCodec.encodeBmp(w, h, rgb), MediaCodec.encodePpm(w, h, rgb),
        MediaCodec.encodePng(w, h, rgb))) {
      val r = MediaCodec.decodeRaster(enc).get
      val got = MediaCodec.stats(MediaCodec.resizeNearest(r, 3, 5))
      assert(got.copy(format = "x") === resizeModel("x", w, h, rgb, 3, 5))
    }
  }

  test("GVID round-trip: header, per-frame stats, seek correctness") {
    val (w, h) = (5, 4)
    val frames = (0 until 4).map(f =>
      Array.tabulate(3 * w * h)(i => ((i * 31 + f * 97 + 5) % 256).toByte))
    val enc = MediaCodec.encodeGvid(w, h, frames)
    assert(MediaCodec.decodeGvidHeader(enc).contains((w, h, 4)))
    for (f <- 0 until 4) {
      val got = MediaCodec.stats(MediaCodec.gvidFrame(enc, w, h, f))
      assert(got.copy(format = "x") === model("x", w, h, frames(f)), s"frame $f")
    }
  }

  test("GVID rejects malformed streams") {
    assert(MediaCodec.decodeGvidHeader("GVIX????????????".getBytes).isEmpty)
    assert(MediaCodec.decodeGvidHeader(Array[Byte]('G', 'V')).isEmpty)
    val good = MediaCodec.encodeGvid(4, 4, Seq(new Array[Byte](48)))
    assert(MediaCodec.decodeGvidHeader(good.take(good.length - 1)).isEmpty,
      "truncated body")
    // declared frame count beyond the body must not validate
    val lying = good.clone()
    lying(12) = 9
    assert(MediaCodec.decodeGvidHeader(lying).isEmpty)
  }

  test("frame sampling keeps exactly frames 0, s, 2s, ... per payload") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    val recs = Seq(1L, 2L, 3L, 7L).map(id =>
      operators.MediaRecord(id, Multimodal.renderVideoFixture(id, text)))
    val out = Multimodal.frameSampleFeatures(spark, spark.createDataset(recs),
      id => (1 + id % 3).toInt).collect()
    for (id <- Seq(1L, 2L, 3L, 7L)) {
      val nf = (3 + id % 6).toInt; val s = (1 + id % 3).toInt
      val got = out.filter(_.doc_id == id).map(_.frame_idx).sorted.toSeq
      assert(got === (0 until nf by s).map(_.toLong), s"doc $id")
    }
  }

  test("PCM sample access round-trips exactly and agrees with decodeAudio") {
    val samples = Array.tabulate(60)(k => ((k * 131) % 4096 - 2048).toShort)
    val wav = MediaCodec.encodeWav(16000, samples)
    val (rate, s) = MediaCodec.decodeAudioPcm(wav).get
    assert(rate === 16000)
    assert(s.toSeq === samples.map(_.toInt).toSeq)
    val viaStats = MediaCodec.decodeAudio(wav).get
    assert(viaStats.sumAbs === s.map(v => math.abs(v).toLong).sum)
  }

  test("GIF round-trips through real LZW: width growth and dictionary resets") {
    val palette = operators.Multimodal.GifPalette
    // large repetitive frame: dictionary crosses several width boundaries;
    // 70x60=4200 px with period-7 structure gives deep LZW chains
    val (w, h) = (70, 60)
    val big = Array.tabulate[Byte](w * h)(k => ((k * k + k / 7) % 16).toByte)
    // adversarial tiny frames too: 1 px, uniform, and alternating
    for (frames <- Seq(Seq(big), Seq(Array.tabulate[Byte](w * h)(_ => 3),
        Array.tabulate[Byte](w * h)(k => (k % 2 * 5).toByte), big))) {
      val gif = MediaCodec.encodeGif(w, h, palette, frames, delayCs = 7)
      val anim = MediaCodec.decodeGifFrames(gif).get
      assert(anim.width === w && anim.height === h)
      assert(anim.frames.size === frames.size)
      for ((f, i) <- anim.frames.zipWithIndex) {
        assert(f.delayCs === 7)
        assert(f.rgb.toSeq === frames(i).map(ix => palette(ix & 0xff)).toSeq,
          s"frame $i pixels")
      }
    }
  }

  test("GIF KwKwK and 256-color streams decode correctly") {
    // full 256-entry palette (8-bit min code) + data engineered to hit the
    // code==next case: ababab... produces KwKwK immediately
    val palette = Array.tabulate(256)(p => (p << 16) | ((255 - p) << 8) | (p ^ 0x55))
    val (w, h) = (40, 30)
    val px = Array.tabulate[Byte](w * h)(k => (k % 2).toByte) // abab...
    val gif = MediaCodec.encodeGif(w, h, palette, Seq(px))
    val anim = MediaCodec.decodeGifFrames(gif).get
    assert(anim.frames.head.rgb.toSeq === px.map(ix => palette(ix & 0xff)).toSeq)
  }

  test("GIF reverse differential: ImageIO reads every frame of our stream") {
    val palette = operators.Multimodal.GifPalette
    val (w, h) = (12, 9)
    val frames = (0 until 3).map(f =>
      Array.tabulate[Byte](w * h)(k => ((k * 5 + f * 11) % 16).toByte))
    val gif = MediaCodec.encodeGif(w, h, palette, frames)
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    val reader = javax.imageio.ImageIO.getImageReaders(in).next()
    reader.setInput(in)
    assert(reader.getNumImages(true) === 3)
    for (f <- 0 until 3) {
      val img = reader.read(f)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xffffff) === palette(frames(f)(y * w + x) & 0xff),
          s"frame $f pixel ($x,$y)")
    }
  }

  test("GIF rejects malformed streams") {
    assert(MediaCodec.decodeGifFrames("GIF00a??????????".getBytes).isEmpty)
    assert(MediaCodec.decodeGifFrames(Array[Byte]('G', 'I', 'F')).isEmpty)
    val good = MediaCodec.encodeGif(8, 8, operators.Multimodal.GifPalette,
      Seq(Array.tabulate[Byte](64)(k => (k % 16).toByte)))
    assert(MediaCodec.decodeGifFrames(good.take(good.length / 2)).isEmpty, "truncated")
    val noTrailer = good.take(good.length - 1)
    assert(MediaCodec.decodeGifFrames(noTrailer).isEmpty, "missing trailer")
  }

  test("GIF fixture decodes to the oracle's formula stats") {
    val text = "the quick brown fox jumps over the lazy dog"
    for (docId <- Seq(0L, 1L, 3L, 6L)) {
      val anim = MediaCodec.decodeGifFrames(
        operators.Multimodal.renderGifFixture(docId, text)).get
      val w = (4 + docId % 5).toInt; val h = (4 + docId * 3 % 4).toInt
      val nf = (2 + docId % 4).toInt
      assert(anim.width === w && anim.height === h && anim.frames.size === nf)
      for ((fr, f) <- anim.frames.zipWithIndex) {
        val st = MediaCodec.stats(MediaCodec.gifFrameRaster(fr))
        val iv = Array.tabulate(w * h)(k =>
          text.charAt((f * 11 + k) % text.length).toInt % 16)
        assert(st.sumR === iv.map(i => ((i * 13 + 5) % 256).toLong).sum, s"f$f")
        assert(st.sumG === iv.map(i => ((i * 29 + 11) % 256).toLong).sum)
        assert(st.sumB === iv.map(i => ((i * 37 + 23) % 256).toLong).sum)
      }
    }
  }

  test("audio window features match an independent model") {
    import spark.implicits._
    val samples = Array.tabulate(50)(k => ((k * 977 + 13) % 4001 - 2000).toShort)
    val wav = MediaCodec.encodeWav(8000, samples)
    val out = Multimodal.audioWindowFeatures(spark,
      spark.createDataset(Seq(operators.MediaRecord(1L, wav)))).collect()(0)
    val sv = samples.map(_.toInt)
    val wins = sv.grouped(Multimodal.AudioWindow).toSeq
    val ev = wins.map(_.map(v => math.abs(v).toLong).sum)
    assert(out.n_samples === 50L)
    assert(out.n_windows === wins.length.toLong)
    assert(out.zero_crossings ===
      sv.sliding(2).count(p => p(0).toLong * p(1) < 0).toLong)
    assert(out.max_window_energy === ev.max)
    assert(out.win_hash === ev.zipWithIndex.map { case (e, i) => (i + 1) * e }.sum)
  }

  test("AVI/MJPEG: container round-trip, index-resolved frames, alignment, rejection") {
    // flat 8x8 blocks survive the quality-75 JPEG round-trip exactly
    // (renderJpegFixture's proof), so the whole mux→index→demux→decode
    // chain is value-checkable
    val w = 16; val h = 8
    val frames = (0 until 5).map { f =>
      Array.tabulate[Byte](w * h) { k =>
        val bx = (k % w) / 8; ((40 + 20 * f + 10 * bx) & 0xff).toByte
      }
    }
    val jpegs = frames.map(g => MediaCodec.encodeJpegGray(w, h, g, quality = 75))
    val avi = MediaCodec.encodeAviMjpeg(w, h, jpegs, fps = 10)
    assert(MediaCodec.decodeAviHeader(avi) === Some((w, h, 5)))
    val idx = MediaCodec.aviFrameIndex(avi).get
    assert(idx.length === 5)
    // every index entry resolves to a real JPEG payload: SOI marker first
    for ((off, len) <- idx) {
      assert((avi(off) & 0xff) === 0xff && (avi(off + 1) & 0xff) === 0xd8,
        "idx1 offset must point at the frame's JPEG SOI")
      assert(len === jpegs(idx.indexOf((off, len))).length)
    }
    // decoded frames reproduce the mosaics bit-exactly, in order
    for (f <- 0 until 5) {
      val r = MediaCodec.aviFrame(avi, idx(f)).get
      assert(r.width === w && r.height === h)
      for (y <- 0 until h; x <- 0 until w)
        assert(r.pixel(x, y)._1 === (frames(f)(y * w + x) & 0xff), s"frame $f ($x,$y)")
    }
    // RIFF word-alignment: odd-sized JPEG payloads must not shift later
    // chunks (JPEG streams routinely end on odd lengths; assert at least
    // one odd so the pad path is actually exercised)
    assert(jpegs.exists(_.length % 2 == 1) || {
      val odd = jpegs.head :+ 0x00.toByte // force one if the codec padded all
      val avi2 = MediaCodec.encodeAviMjpeg(w, h, Seq(odd, jpegs(1)), fps = 10)
      MediaCodec.aviFrameIndex(avi2).get.length === 2
    })
    // rejection: truncation and magic corruption surface as None, never a
    // mis-parse
    assert(MediaCodec.decodeAviHeader(avi.take(40)) === None)
    val bad = avi.clone(); bad(8) = 'X'
    assert(MediaCodec.decodeAviHeader(bad) === None)
    assert(MediaCodec.aviFrameIndex(bad) === None)
    // a chunk size near Int.MaxValue (the hdrl LIST's) must reject, not
    // wrap the bound check
    val huge = avi.clone()
    huge(16) = 0xf0.toByte; huge(17) = 0xff.toByte; huge(18) = 0xff.toByte; huge(19) = 0x7f
    assert(MediaCodec.decodeAviHeader(huge) === None, "chunk size 0x7FFFFFF0")
    assert(MediaCodec.aviFrameIndex(huge) === None, "chunk size 0x7FFFFFF0")
  }
}
