package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import scala.util.control.NonFatal

import javax.imageio.{ImageIO, ImageReader}
import javax.imageio.metadata.IIOMetadataNode
import javax.imageio.stream.MemoryCacheImageInputStream

/** One decoded raster image, reduced to the channel statistics the pipeline
  * extracts: dimensions, per-channel sums, and a position-weighted checksum
  * (`Σ (k+1)·(r_k + 2·g_k + 3·b_k)` over logical top-down row-major pixel
  * index k) — the checksum pins pixel ORDER, so a decoder that mishandles
  * BMP's bottom-up rows or BGR byte order cannot pass by luck of
  * order-insensitive sums. */
final case class DecodedImage(
    format: String,
    width: Int,
    height: Int,
    sumR: Long,
    sumG: Long,
    sumB: Long,
    posHash: Long)

/** One decoded PCM audio clip, reduced to the statistics the pipeline
  * extracts: rate, length, duration, absolute-amplitude sum, and a
  * position-weighted checksum (`Σ (k+1)·s_k` over SIGNED samples) — the
  * checksum pins sample order and two's-complement handling, so a decoder
  * that misreads endianness or sign cannot pass on magnitude sums alone. */
final case class DecodedAudio(
    sampleRate: Int,
    nSamples: Int,
    durationMicros: Long,
    sumAbs: Long,
    posHash: Long)

/** One decoded raster with PIXEL access (logical top-down row-major (x, y) →
  * (r, g, b)) — the layer between the format parsers and the statistics
  * reduction, exposed so raster TRANSFORMS (resize, crop) can run on decoded
  * pixels before reduction. The pixel function closes over the decoder's
  * buffer; it is cheap to call repeatedly and never copies the raster. */
final case class Raster(
    format: String,
    width: Int,
    height: Int,
    pixel: (Int, Int) => (Int, Int, Int))

/** Media codecs over raw payload bytes. PNG, BMP, GIF and baseline JPEG
  * decode through the JDK's `javax.imageio` readers, behind small header
  * checks for the rules those readers do not enforce (PNG chunk CRCs and
  * `IEND`, 8-bit truecolor non-interlaced PNG, 24-bit BI_RGB BMP, the GIF
  * trailer, one-band JPEG). Binary PPM (P6), 16-bit PCM mono WAV and the
  * GVID and RIFF/AVI containers have no JDK reader and are parsed here.
  *
  * [[decode]] is the production path (used by
  * [[Multimodal.imageFeatures]]); the `encode*` functions are deterministic
  * FIXTURE generators for tests and the oracle-checked queries, whose
  * bytes they fix — a real pipeline reads its bytes from object storage
  * instead. */
object MediaCodec {

  // ---- little-endian helpers over raw byte arrays ----
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def i16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def i32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def putI16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
  }
  private def putI32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
    b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
  }

  /** Encode `rgb` (top-down row-major R,G,B triplets) as a 24-bit BI_RGB
    * BMP. `topDown = true` writes a negative-height header (rows stored
    * top-down) — the variant spec tests use to pin row-order handling. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte],
      topDown: Boolean = false): Array[Byte] = {
    require(rgb.length == 3 * width * height, "rgb must be 3*w*h bytes")
    val stride = ((3 * width + 3) / 4) * 4 // rows pad to 4 bytes
    val dataOffset = 14 + 40
    val out = new Array[Byte](dataOffset + stride * height)
    out(0) = 'B'; out(1) = 'M'
    putI32(out, 2, out.length)
    putI32(out, 10, dataOffset)
    putI32(out, 14, 40) // BITMAPINFOHEADER
    putI32(out, 18, width)
    putI32(out, 22, if (topDown) -height else height)
    putI16(out, 26, 1) // planes
    putI16(out, 28, 24) // bpp
    putI32(out, 30, 0) // BI_RGB
    putI32(out, 34, stride * height)
    var y = 0
    while (y < height) {
      val fileRow = if (topDown) y else height - 1 - y
      var x = 0
      while (x < width) {
        val src = 3 * (y * width + x)
        val dst = dataOffset + fileRow * stride + 3 * x
        out(dst) = rgb(src + 2) // B
        out(dst + 1) = rgb(src + 1) // G
        out(dst + 2) = rgb(src) // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Encode `rgb` (top-down row-major R,G,B) as binary PPM (P6). */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * width * height, "rgb must be 3*w*h bytes")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    header ++ rgb
  }

  /** Decode a BMP, PPM, PNG, or grayscale JPEG payload to a
    * pixel-access [[Raster]]; `None` for unrecognized magic or a
    * malformed/truncated body (callers fall back to the opaque-payload
    * stub, [[Multimodal.decodeStub]]). */
  def decodeRaster(bytes: Array[Byte]): Option[Raster] =
    if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') decodePpm(bytes)
    else if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') decodePng(bytes)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8) decodeJpegGray(bytes).map(grayRaster("jpeg", _))
    else None

  /** [[decodeRaster]] reduced to channel statistics — the historical
    * single-step decode face. */
  def decode(bytes: Array[Byte]): Option[DecodedImage] =
    decodeRaster(bytes).map(stats)

  /** Reduce a raster to [[DecodedImage]] statistics. */
  def stats(r: Raster): DecodedImage =
    accumulate(r.format, r.width, r.height)(r.pixel)

  /** Nearest-neighbor resize as a raster-to-raster view: destination pixel
    * (x, y) reads source pixel (x·srcW / dstW, y·srcH / dstH) — floor
    * integer division, the standard dataset-prep thumbnail rule, and
    * integer-exact so an oracle can replay it. No pixel copy: the view
    * composes with the decoder's own pixel closure, so resize-then-reduce
    * touches each DESTINATION pixel once regardless of source size. */
  def resizeNearest(r: Raster, dstW: Int, dstH: Int): Raster = {
    require(dstW > 0 && dstH > 0, "resize target must be positive")
    Raster(r.format, dstW, dstH,
      (x, y) => r.pixel(x * r.width / dstW, y * r.height / dstH))
  }

  /** Accumulate stats over logical top-down row-major pixels via a
    * per-pixel RGB lookup. */
  private def accumulate(format: String, width: Int, height: Int)(
      pixel: (Int, Int) => (Int, Int, Int)): DecodedImage = {
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var posHash = 0L
    var k = 0
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val (r, g, b) = pixel(x, y)
        sumR += r; sumG += g; sumB += b
        posHash += (k + 1).toLong * (r + 2L * g + 3L * b)
        k += 1
        x += 1
      }
      y += 1
    }
    DecodedImage(format, width, height, sumR, sumG, sumB, posHash)
  }

  /** Pixel cap checked against a header's dimensions before any raster is
    * allocated: a compressed payload (PNG, GIF, JPEG) of a few bytes can
    * declare a multi-GB raster. */
  private val MaxPixels = 64L << 20

  /** Decode `b` with the JDK's `formatName` reader: image 0, or every
    * image when `all` (animated GIF), each handed to `image` with the
    * reader for its metadata. The payload is read through a
    * `MemoryCacheImageInputStream` (`ImageIO.read(InputStream)` would cache
    * it to a temp file). `None` when an image's header dimensions exceed
    * [[MaxPixels]], when `image` rejects one, on any read warning (a
    * truncated JPEG decodes as a full image with a warning), or on any
    * non-fatal exception. */
  private def imageIo[A](b: Array[Byte], formatName: String, all: Boolean = false)(
      image: (ImageReader, Int, BufferedImage) => Option[A]): Option[Vector[A]] = {
    val reader = ImageIO.getImageReadersByFormatName(formatName).next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    var warned = false
    reader.addIIOReadWarningListener((_, _) => warned = true)
    try {
      reader.setInput(in)
      val n = if (all) reader.getNumImages(true) else 1
      val images = (0 until n).toVector.map(i =>
        if (reader.getWidth(i).toLong * reader.getHeight(i) > MaxPixels) None
        else image(reader, i, reader.read(i)))
      if (warned || images.exists(_.isEmpty)) None else Some(images.flatten)
    } catch { case NonFatal(_) => None }
    finally { reader.dispose(); in.close() }
  }

  /** [[Raster]] over packed 0xRRGGBB pixels, top-down row-major. */
  private def rgbRaster(format: String, width: Int, height: Int, rgb: Array[Int]): Raster =
    Raster(format, width, height, (x, y) => {
      val c = rgb(y * width + x)
      ((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)
    })

  /** A decoded image's pixels as packed 0xRRGGBB (alpha dropped). */
  private def packedRgb(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth).map(_ & 0xffffff)

  /** Decode a single-image PNG or BMP payload to a raster. */
  private def decodeRgb(b: Array[Byte], format: String): Option[Raster] =
    imageIo(b, format)((_, _, img) =>
      Some(rgbRaster(format, img.getWidth, img.getHeight, packedRgb(img)))).map(_.head)

  /** Encode mono 16-bit PCM as a canonical 44-byte-header WAV. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = 2 * samples.length
    val out = new Array[Byte](44 + dataLen)
    "RIFF".getBytes("US-ASCII").copyToArray(out, 0)
    putI32(out, 4, 36 + dataLen)
    "WAVE".getBytes("US-ASCII").copyToArray(out, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(out, 12)
    putI32(out, 16, 16) // PCM fmt chunk size
    putI16(out, 20, 1) // audio format: PCM
    putI16(out, 22, 1) // mono
    putI32(out, 24, sampleRate)
    putI32(out, 28, sampleRate * 2) // byte rate
    putI16(out, 32, 2) // block align
    putI16(out, 34, 16) // bits per sample
    "data".getBytes("US-ASCII").copyToArray(out, 36)
    putI32(out, 40, dataLen)
    var k = 0
    while (k < samples.length) {
      putI16(out, 44 + 2 * k, samples(k) & 0xffff)
      k += 1
    }
    out
  }

  /** Decode a RIFF/WAVE payload (16-bit PCM mono) to amplitude statistics;
    * `None` for other magic, other codecs (non-PCM, non-mono, non-16-bit),
    * or a truncated body. Walks the chunk list properly — `fmt ` and `data`
    * may be separated by LIST/fact/cue chunks, and odd-sized chunks carry a
    * pad byte (RIFF spec), so a header-offset-44 shortcut would misread
    * real-world files. */
  def decodeAudio(b: Array[Byte]): Option[DecodedAudio] =
    decodeAudioPcm(b).map { case (rate, s) =>
      var sumAbs = 0L
      var posHash = 0L
      var k = 0
      while (k < s.length) {
        sumAbs += math.abs(s(k))
        posHash += (k + 1).toLong * s(k)
        k += 1
      }
      DecodedAudio(rate, s.length, s.length * 1000000L / rate, sumAbs, posHash)
    }

  /** [[decodeAudio]]'s parsing layer with SAMPLE access: RIFF/WAVE 16-bit
    * PCM mono → (sample rate, signed samples, top-down order). Exposed so
    * sample-level feature extraction (windowed energy, zero-crossing rate)
    * can run on decoded PCM rather than on pre-reduced statistics. */
  def decodeAudioPcm(b: Array[Byte]): Option[(Int, Array[Int])] = {
    if (b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var pos = 12
    var rate = -1
    var ok = false
    while (pos + 8 <= b.length) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = i32(b, pos + 4)
      val body = pos + 8
      if (sz < 0 || body.toLong + sz > b.length) return None // long: no wrap
      id match {
        case "fmt " =>
          if (sz < 16) return None
          ok = i16(b, body) == 1 && i16(b, body + 2) == 1 && i16(b, body + 14) == 16
          rate = i32(b, body + 4)
        case "data" if ok && rate > 0 =>
          val n = sz / 2
          val s = new Array[Int](n)
          var k = 0
          while (k < n) {
            s(k) = i16(b, body + 2 * k).toShort.toInt // sign-extend
            k += 1
          }
          return Some((rate, s))
        case _ => ()
      }
      pos = body + sz + (sz & 1) // odd chunks are padded
    }
    None
  }

  // ---- GVID: a minimal uncompressed video container for the frame-
  // sampling pipeline. Real video codecs need native libraries this
  // container cannot ship (the justified stub seam — see [[Multimodal]]);
  // the CONTAINER mechanics a sampling pipeline exercises — header parse,
  // constant-size frame offset arithmetic, decoding ONLY the sampled
  // frames — are format-independent and fully real here. Layout:
  // "GVID" magic, LE i32 width/height/nFrames, then nFrames rasters of
  // 3·w·h top-down row-major R,G,B bytes. ----

  /** Encode top-down row-major RGB frames as a GVID stream (fixture
    * generator, like the other `encode*`s). */
  def encodeGvid(width: Int, height: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val fsz = 3 * width * height
    require(frames.forall(_.length == fsz), "each frame must be 3*w*h bytes")
    val out = new Array[Byte](16 + fsz * frames.length)
    out(0) = 'G'; out(1) = 'V'; out(2) = 'I'; out(3) = 'D'
    putI32(out, 4, width)
    putI32(out, 8, height)
    putI32(out, 12, frames.length)
    frames.zipWithIndex.foreach { case (f, i) => f.copyToArray(out, 16 + i * fsz) }
    out
  }

  /** Parse a GVID header → (width, height, nFrames); `None` on bad magic,
    * non-positive dimensions, or a body shorter than the declared frames
    * (long arithmetic — declared dims must not overflow the size check). */
  def decodeGvidHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 16 || b(0) != 'G' || b(1) != 'V' || b(2) != 'I' || b(3) != 'D')
      return None
    val w = i32(b, 4); val h = i32(b, 8); val n = i32(b, 12)
    if (w <= 0 || h <= 0 || n <= 0) return None
    if (16L + 3L * w * h * n > b.length) return None
    Some((w, h, n))
  }

  /** Raster view of frame `idx` — pure offset arithmetic into the stream,
    * so sampling frame k of n touches only that frame's bytes (the seek-
    * don't-scan access pattern a ranged object-storage read gives at
    * scale). Caller must have validated via [[decodeGvidHeader]]. */
  def gvidFrame(b: Array[Byte], width: Int, height: Int, idx: Int): Raster = {
    val base = 16 + 3 * width * height * idx
    Raster("gvid", width, height, (x, y) => {
      val off = base + 3 * (y * width + x)
      (u8(b, off), u8(b, off + 1), u8(b, off + 2))
    })
  }

  // ---- GIF (public spec: GIF89a, CompuServe 1990): indexed-color frames
  // with variable-width LZW entropy coding — the animated container that
  // makes frame SAMPLING run on a real format. The encoder (fixture
  // generator) is written here: real LZW compression, one GCE + image
  // descriptor per frame. Decoding is the JDK's GIF reader, which does
  // the LZW, the local and global color tables and interlacing. ----

  /** One decoded GIF frame: placement rect, delay (centiseconds), and the
    * frame's own indexed pixels resolved through its active color table
    * (top-down row-major RGB ints, 0xRRGGBB). Compositing/disposal across
    * frames is presentation semantics and intentionally out of scope —
    * feature extraction reads each frame's own raster. */
  final case class GifFrame(left: Int, top: Int, width: Int, height: Int,
      delayCs: Int, rgb: Array[Int])

  final case class GifAnimation(width: Int, height: Int, frames: Vector[GifFrame])

  /** Encode full-frame indexed pixels as an animated GIF89a with a global
    * color table. `palette` holds 0xRRGGBB ints (length a power of two,
    * 2..256); each frame is `w·h` palette indices. Real LZW compression —
    * variable code width, dictionary growth, clear-code reset at 4096. */
  def encodeGif(width: Int, height: Int, palette: Array[Int],
      frames: Seq[Array[Byte]], delayCs: Int = 10): Array[Byte] = {
    require(palette.length >= 2 && (palette.length & (palette.length - 1)) == 0 &&
      palette.length <= 256, "palette size must be a power of two in 2..256")
    require(frames.forall(_.length == width * height), "frame must be w*h indices")
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    // logical screen descriptor
    out.write(width & 0xff); out.write(width >> 8)
    out.write(height & 0xff); out.write(height >> 8)
    val gctBits = 32 - Integer.numberOfLeadingZeros(palette.length - 1) // log2
    out.write(0x80 | ((gctBits - 1) & 7) << 4 | ((gctBits - 1) & 7)) // GCT present
    out.write(0); out.write(0) // background index, aspect
    palette.foreach { c =>
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff); out.write(c & 0xff)
    }
    val minCode = math.max(2, gctBits)
    frames.foreach { px =>
      // graphic control extension (delay)
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0) // no disposal, no transparency
      out.write(delayCs & 0xff); out.write(delayCs >> 8)
      out.write(0); out.write(0) // transparent idx, terminator
      // image descriptor: full frame, no LCT, no interlace
      out.write(0x2c)
      out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(width & 0xff); out.write(width >> 8)
      out.write(height & 0xff); out.write(height >> 8)
      out.write(0)
      out.write(minCode)
      val packed = lzwEncode(px, minCode)
      var off = 0
      while (off < packed.length) {
        val n = math.min(255, packed.length - off)
        out.write(n); out.write(packed, off, n)
        off += n
      }
      out.write(0) // block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** GIF-variant LZW compress (LSB-first bit packing, clear code emitted
    * first and on dictionary overflow at 4096, code width grows when the
    * next free slot crosses a power of two, 12-bit cap). */
  private def lzwEncode(data: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode; val eoi = clear + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nAcc = 0
    var width = minCode + 1
    def emit(code: Int): Unit = {
      acc |= code.toLong << nAcc; nAcc += width
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
    }
    var dict = new java.util.HashMap[Long, Integer]()
    var next = eoi + 1
    emit(clear)
    if (data.nonEmpty) {
      var w = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val c = data(i) & 0xff
        val key = w.toLong << 8 | c
        val hit = dict.get(key)
        if (hit != null) w = hit.intValue()
        else {
          emit(w)
          dict.put(key, Integer.valueOf(next))
          next += 1
          if (next > (1 << width) && width < 12) width += 1
          if (next == 4096) {
            emit(clear)
            dict = new java.util.HashMap[Long, Integer]()
            next = eoi + 1
            width = minCode + 1
          }
          w = c
        }
        i += 1
      }
      emit(w)
    }
    emit(eoi)
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    bits.toByteArray
  }

  /** Decode an animated (or single-frame) GIF87a/89a: every frame's own
    * raster resolved through its local-else-global color table, with its
    * placement and GCE delay. `None` on bad magic, a stream that does not
    * end in the `0x3B` trailer (the JDK reader accepts a truncated one), or
    * a malformed body. */
  def decodeGifFrames(b: Array[Byte]): Option[GifAnimation] = {
    val magic = if (b.length < 13) "" else new String(b, 0, 6, "US-ASCII")
    if ((magic != "GIF89a" && magic != "GIF87a") || b.last != 0x3b) return None
    imageIo(b, "gif", all = true) { (reader, i, img) =>
      val md = reader.getImageMetadata(i).getAsTree("javax_imageio_gif_image_1.0")
        .asInstanceOf[IIOMetadataNode]
      def attr(node: String, name: String): Int = {
        val nodes = md.getElementsByTagName(node)
        if (nodes.getLength == 0) 0
        else nodes.item(0).asInstanceOf[IIOMetadataNode].getAttribute(name).toInt
      }
      Some(GifFrame(attr("ImageDescriptor", "imageLeftPosition"),
        attr("ImageDescriptor", "imageTopPosition"), img.getWidth, img.getHeight,
        attr("GraphicControlExtension", "delayTime"), packedRgb(img)))
    }.filter(_.nonEmpty).map(GifAnimation(i16(b, 6), i16(b, 8), _))
  }

  /** [[Raster]] view of one decoded GIF frame (its own rect). */
  def gifFrameRaster(f: GifFrame): Raster = rgbRaster("gif", f.width, f.height, f.rgb)

  // ---- PNG (public spec: RFC 2083 / W3C PNG): 8-bit truecolor (color
  // type 2), non-interlaced — the subset the fixture pipeline produces.
  // The encoder deflates and filters each scanline here; decoding is the
  // JDK's PNG reader, behind a chunk walk that verifies every CRC and
  // requires IEND (the reader checks neither). ----

  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def putBE32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }

  /** Paeth predictor (PNG spec §6.6): nearest of a (left), b (above),
    * c (above-left) to a+b−c, ties a then b then c. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode `rgb` (top-down row-major R,G,B) as an 8-bit truecolor PNG.
    * Each scanline is filtered with type `y % 5` — all five standard
    * filters appear in any image ≥ 5 rows, so a decoder that fakes any
    * unfilter path cannot round-trip the fixture. */
  def encodePng(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * width * height, "rgb must be 3*w*h bytes")
    val stride = 3 * width
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      val ft = y % 5
      val off = y * (1 + stride)
      raw(off) = ft.toByte
      var i = 0
      while (i < stride) {
        val x = rgb(y * stride + i) & 0xff
        val a = if (i >= 3) rgb(y * stride + i - 3) & 0xff else 0
        val b = if (y > 0) rgb((y - 1) * stride + i) & 0xff else 0
        val c = if (y > 0 && i >= 3) rgb((y - 1) * stride + i - 3) & 0xff else 0
        val filtered = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 => x - paeth(a, b, c)
        }
        raw(off + 1 + i) = (filtered & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(typ: String, body: Array[Byte]): Unit = {
      val len = new Array[Byte](4); putBE32(len, 0, body.length)
      bos.write(len, 0, 4)
      val tb = typ.getBytes("US-ASCII")
      bos.write(tb, 0, 4)
      bos.write(body, 0, body.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(body)
      val cb = new Array[Byte](4); putBE32(cb, 0, crc.getValue.toInt)
      bos.write(cb, 0, 4)
    }
    val ihdr = new Array[Byte](13)
    putBE32(ihdr, 0, width); putBE32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type: truecolor RGB
    // bytes 10-12: compression 0, filter 0, interlace 0
    chunk("IHDR", ihdr)
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  /** Decode an 8-bit truecolor non-interlaced PNG. The chunk walk
    * (CRC-verified, up to IEND) checks the layout; the JDK reader
    * inflates and unfilters. Other color types / bit depths / interlacing,
    * a bad CRC, a missing IEND or a corrupt zlib stream all return
    * `None`. */
  private def decodePng(b: Array[Byte]): Option[Raster] = {
    var pos = 8
    var headerOk = false
    var sawEnd = false
    while (!sawEnd && pos + 12 <= b.length) {
      val sz = be32(b, pos)
      val body = pos + 8
      // long arithmetic: a chunk size near Int.MaxValue overflows the int
      // form of this bound and would walk past the buffer
      if (sz < 0 || body.toLong + sz.toLong + 4L > b.length) return None
      val crc = new java.util.zip.CRC32()
      crc.update(b, pos + 4, 4 + sz)
      if (crc.getValue.toInt != be32(b, body + sz)) return None
      new String(b, pos + 4, 4, "US-ASCII") match {
        case "IHDR" =>
          headerOk = sz == 13 && be32(b, body) > 0 && be32(b, body + 4) > 0 &&
            u8(b, body + 8) == 8 && u8(b, body + 9) == 2 &&
            u8(b, body + 10) == 0 && u8(b, body + 11) == 0 && u8(b, body + 12) == 0
        case "IEND" => sawEnd = true
        case _ => () // IDAT and ancillary chunks are the reader's
      }
      pos = body + sz + 4
    }
    if (headerOk && sawEnd) decodeRgb(b, "png") else None
  }

  /** Decode an uncompressed 24-bit BI_RGB BMP (bottom-up or top-down)
    * through the JDK reader; other layouts return `None`. */
  private def decodeBmp(b: Array[Byte]): Option[Raster] =
    if (b.length >= 54 && i32(b, 14) >= 40 && i16(b, 28) == 24 && i32(b, 30) == 0)
      decodeRgb(b, "bmp")
    else None

  /** P6 header: three ASCII ints (width, height, maxval) separated by
    * whitespace, `#`-to-EOL comments allowed anywhere whitespace is, then
    * ONE whitespace byte, then 3·w·h binary RGB bytes. */
  private def decodePpm(b: Array[Byte]): Option[Raster] = {
    var pos = 2
    def nextInt(): Option[Int] = {
      // skip whitespace and comments
      var inComment = false
      while (pos < b.length &&
          (inComment || b(pos).toChar.isWhitespace || b(pos) == '#')) {
        if (b(pos) == '#') inComment = true
        else if (b(pos) == '\n') inComment = false
        pos += 1
      }
      var v = -1
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (b(pos) - '0')
        pos += 1
      }
      Option.when(v >= 0)(v)
    }
    for {
      width <- nextInt()
      height <- nextInt()
      maxval <- nextInt()
      if width > 0 && height > 0 && maxval > 0 && maxval < 256
      if pos < b.length && b(pos).toChar.isWhitespace // single post-header byte
      data = pos + 1
      if data.toLong + 3L * width * height <= b.length
    } yield Raster("ppm", width, height, (x, y) => {
      val off = data + 3 * (y * width + x)
      (u8(b, off), u8(b, off + 1), u8(b, off + 2))
    })
  }

  // ------------------------------------------------------------------
  // JPEG — baseline sequential DCT, grayscale (ITU-T T.81 / ISO 10918-1;
  // tables from Annex K, quality scaling per the libjpeg formula). The
  // dominant image wire format of any crawled corpus. The encoder is the
  // deterministic fixture generator, written here (FDCT, quantization,
  // canonical Huffman coding, byte stuffing); the DECODER is the JDK's
  // JPEG reader, which reads any baseline or progressive stream, held to
  // one band: a color JPEG is out of scope and returns `None`.
  // ------------------------------------------------------------------

  /** Zigzag index → natural (row-major) index, T.81 Figure 5. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.1 luminance quantization table, natural order. */
  private val StdLumaQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** [[StdLumaQuant]] scaled by quality 1..100 (libjpeg's public formula),
    * clamped to [1, 255]. Exposed for the fixture-exactness argument: at
    * quality 75 the DC step is (16·50+50)/100 = 8, which divides the DC
    * coefficient 8·(c−128) of any constant block exactly. */
  private[graft] def scaledQuant(quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    StdLumaQuant.map(v => math.max(1, math.min(255, (v * scale + 50) / 100)))
  }

  /** Annex K.3 BITS/HUFFVAL: standard luminance DC and AC Huffman specs. */
  private val StdDcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcVals: Array[Int] = (0 to 11).toArray
  private val StdAcBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val StdAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical Huffman codes from a BITS histogram (bits(l) = #codes of
    * length l, 1-indexed) + value list: (code, length) per symbol. */
  private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    val out = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    var code = 0
    var k = 0
    for (len <- 1 to 16) {
      for (_ <- 0 until bits(len)) {
        out(vals(k)) = (code, len); code += 1; k += 1
      }
      code <<= 1
    }
    out.toMap
  }

  private val CosTable: Array[Double] = {
    val t = new Array[Double](8 * 8) // t(x*8+u) = cos((2x+1)uπ/16)
    for (x <- 0 until 8; u <- 0 until 8)
      t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
    t
  }
  private val C: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** MSB-first bit writer with JPEG 0xFF00 byte stuffing; flush pads 1s. */
  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nBits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1)); nBits += len
      while (nBits >= 8) {
        val b = ((acc >> (nBits - 8)) & 0xff).toInt
        buf.write(b); if (b == 0xff) buf.write(0x00)
        nBits -= 8
      }
    }
    def flush(): Unit = if (nBits > 0) put(0x7f, 8 - nBits) // pad with 1s
    def bytes: Array[Byte] = buf.toByteArray
  }

  /** Magnitude category (bit length) of a DC diff / AC coefficient. */
  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** T.81 amplitude encoding: negatives as value-1 in `size` low bits. */
  private def amplitude(v: Int, size: Int): Int =
    if (v >= 0) v else v + (1 << size) - 1

  /** Encode an 8-bit grayscale raster (top-down row-major) as a baseline
    * sequential single-component JPEG. Non-multiple-of-8 dimensions pad by
    * edge replication (the standard encoder practice — padding never
    * reaches the decoded output, which is cropped to the SOF dims). */
  def encodeJpegGray(width: Int, height: Int, gray: Array[Byte], quality: Int = 75): Array[Byte] = {
    require(gray.length == width * height, "gray must be w*h bytes")
    val quant = scaledQuant(quality)
    val dcCodes = huffCodes(StdDcBits, StdDcVals)
    val acCodes = huffCodes(StdAcBits, StdAcVals)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    marker(0xd8) // SOI
    marker(0xdb); be16(2 + 1 + 64) // DQT, 8-bit table 0, zigzag order
    out.write(0x00)
    for (i <- 0 until 64) out.write(quant(Zigzag(i)))
    marker(0xc0); be16(8 + 3) // SOF0: precision 8, 1 component, 1x1
    out.write(8); be16(height); be16(width); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); be16(2 + 1 + 16 + vals.length)
      out.write(cls << 4)
      for (l <- 1 to 16) out.write(bits(l))
      vals.foreach(out.write)
    }
    dht(0, StdDcBits, StdDcVals)
    dht(1, StdAcBits, StdAcVals)
    marker(0xda); be16(6 + 2) // SOS: 1 component, tables 0/0, full scan
    out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    val bw = new BitWriter
    val nbx = (width + 7) / 8
    val nby = (height + 7) / 8
    var dcPred = 0
    val block = new Array[Double](64)
    val coef = new Array[Int](64)
    for (by <- 0 until nby; bx <- 0 until nbx) {
      var i = 0
      while (i < 64) {
        val y = math.min(by * 8 + i / 8, height - 1) // edge replication
        val x = math.min(bx * 8 + i % 8, width - 1)
        block(i) = (gray(y * width + x) & 0xff) - 128.0
        i += 1
      }
      var v = 0
      while (v < 64) { // FDCT + quantize, natural order
        val u0 = v % 8; val v0 = v / 8
        var s = 0.0
        var p = 0
        while (p < 64) {
          s += block(p) * CosTable((p % 8) * 8 + u0) * CosTable((p / 8) * 8 + v0)
          p += 1
        }
        coef(v) = math.round(0.25 * C(u0) * C(v0) * s / quant(v)).toInt
        v += 1
      }
      val diff = coef(0) - dcPred
      dcPred = coef(0)
      val dcSize = category(diff)
      val (dcCode, dcLen) = dcCodes(dcSize)
      bw.put(dcCode, dcLen)
      if (dcSize > 0) bw.put(amplitude(diff, dcSize), dcSize)
      var run = 0
      var zz = 1
      var lastNz = 0
      while (zz < 64) { if (coef(Zigzag(zz)) != 0) lastNz = zz; zz += 1 }
      zz = 1
      while (zz <= lastNz) {
        val c = coef(Zigzag(zz))
        if (c == 0) run += 1
        else {
          while (run >= 16) { val (z, l) = acCodes(0xf0); bw.put(z, l); run -= 16 }
          val size = category(c)
          val (code, len) = acCodes((run << 4) | size)
          bw.put(code, len)
          bw.put(amplitude(c, size), size)
          run = 0
        }
        zz += 1
      }
      if (lastNz < 63) { val (eob, l) = acCodes(0x00); bw.put(eob, l) }
    }
    bw.flush()
    out.write(bw.bytes, 0, bw.bytes.length)
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Decode a one-band (grayscale) JPEG to (width, height, gray pixels
    * 0..255 top-down row-major). `None` on color or malformed input,
    * including a truncated stream and header dimensions past the pixel
    * cap. */
  private[graft] def decodeJpegGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    imageIo(b, "jpeg") { (_, _, img) =>
      val (w, h) = (img.getWidth, img.getHeight)
      Option.when(img.getRaster.getNumBands == 1)(
        (w, h, img.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])))
    }.map(_.head)

  /** Gray pixels as a raster (r = g = b = gray). */
  private def grayRaster(format: String, jpeg: (Int, Int, Array[Int])): Raster = {
    val (w, h, gray) = jpeg
    Raster(format, w, h, (x, y) => { val g = gray(y * w + x); (g, g, g) })
  }

  // ---- AVI / MJPEG (public specs: Microsoft RIFF/AVI container, frames
  // as baseline JPEG — "motion JPEG", the classic index-seekable video
  // interchange format). This closes the video stub seam GVID documented:
  // a REAL standard container, walked here (the JDK has no AVI reader),
  // whose frames decode through the JPEG reader above. The 100 TB access
  // pattern is the point — the `idx1` chunk index means stride-s frame
  // sampling resolves each kept frame to an (offset, size) pair and
  // decodes ONLY those byte ranges (ranged object-storage GETs), never
  // scanning the stream. Layout
  // written here: RIFF('AVI ') { LIST(hdrl){ avih, LIST(strl){ strh
  // 'vids'/'MJPG', strf BITMAPINFOHEADER } }, LIST(movi){ '00dc' chunks },
  // idx1 } — the minimal single-video-stream profile every AVI reader
  // accepts. idx1 offsets follow the standard convention: relative to the
  // position of the 'movi' FOURCC, pointing at each chunk's own FOURCC. ----

  private def fourcc(b: Array[Byte], off: Int, s: String): Unit = {
    var i = 0; while (i < 4) { b(off + i) = s.charAt(i).toByte; i += 1 }
  }
  private def isFourcc(b: Array[Byte], off: Int, s: String): Boolean =
    off + 4 <= b.length && (0 until 4).forall(i => b(off + i) == s.charAt(i).toByte)

  /** Mux already-encoded baseline-JPEG frames into a single-stream MJPEG
    * AVI (fixture generator, like the other `encode*`s). All chunks are
    * word-aligned per the RIFF rule (odd-sized payloads get one pad byte
    * that is NOT counted in the chunk's size field). */
  def encodeAviMjpeg(width: Int, height: Int, jpegFrames: Seq[Array[Byte]],
      fps: Int = 10): Array[Byte] = {
    require(jpegFrames.nonEmpty && fps > 0)
    val n = jpegFrames.length
    def padded(sz: Int): Int = sz + (sz & 1)
    val moviData = 4 + jpegFrames.map(f => 8 + padded(f.length)).sum // 'movi' + chunks
    val idx1Data = 16 * n
    val hdrlData = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40)) // 'hdrl' avih LIST(strl){strh strf}
    val riffData = 4 + (8 + hdrlData) + (8 + moviData) + (8 + idx1Data)
    val out = new Array[Byte](8 + riffData)
    var p = 0
    def chunkHeader(id: String, size: Int): Unit = {
      fourcc(out, p, id); putI32(out, p + 4, size); p += 8
    }
    fourcc(out, 0, "RIFF"); putI32(out, 4, riffData); fourcc(out, 8, "AVI "); p = 12
    // LIST hdrl
    chunkHeader("LIST", hdrlData); fourcc(out, p, "hdrl"); p += 4
    chunkHeader("avih", 56)
    val avih = p
    putI32(out, avih, 1000000 / fps)       // dwMicroSecPerFrame
    putI32(out, avih + 12, 0x10)           // dwFlags: AVIF_HASINDEX
    putI32(out, avih + 16, n)              // dwTotalFrames
    putI32(out, avih + 24, 1)              // dwStreams
    putI32(out, avih + 32, width)
    putI32(out, avih + 36, height)
    p += 56
    chunkHeader("LIST", 4 + (8 + 56) + (8 + 40)); fourcc(out, p, "strl"); p += 4
    chunkHeader("strh", 56)
    val strh = p
    fourcc(out, strh, "vids"); fourcc(out, strh + 4, "MJPG")
    putI32(out, strh + 20, 1)              // dwScale
    putI32(out, strh + 24, fps)            // dwRate (rate/scale = fps)
    putI32(out, strh + 32, n)              // dwLength (frames)
    putI16(out, strh + 48, 0); putI16(out, strh + 50, 0)
    putI16(out, strh + 52, width); putI16(out, strh + 54, height) // rcFrame
    p += 56
    chunkHeader("strf", 40)
    val strf = p
    putI32(out, strf, 40)                  // biSize
    putI32(out, strf + 4, width)
    putI32(out, strf + 8, height)
    putI16(out, strf + 12, 1)              // biPlanes
    putI16(out, strf + 14, 24)             // biBitCount
    fourcc(out, strf + 16, "MJPG")         // biCompression
    putI32(out, strf + 20, 3 * width * height) // biSizeImage
    p += 40
    // LIST movi
    chunkHeader("LIST", moviData)
    val moviFourccPos = p
    fourcc(out, p, "movi"); p += 4
    val offsets = new Array[Int](n) // chunk-FOURCC offsets relative to 'movi'
    jpegFrames.zipWithIndex.foreach { case (f, i) =>
      offsets(i) = p - moviFourccPos
      chunkHeader("00dc", f.length)
      f.copyToArray(out, p); p += padded(f.length)
    }
    // idx1
    chunkHeader("idx1", idx1Data)
    jpegFrames.zipWithIndex.foreach { case (f, i) =>
      fourcc(out, p, "00dc")
      putI32(out, p + 4, 0x10)             // AVIIF_KEYFRAME
      putI32(out, p + 8, offsets(i))
      putI32(out, p + 12, f.length)
      p += 16
    }
    out
  }

  /** Parse an AVI header → (width, height, nFrames) from `avih`; `None`
    * unless the RIFF/AVI magic, a sane avih, and an `idx1` index are all
    * present (this profile requires the index — it IS the seek path). */
  def decodeAviHeader(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 12 || !isFourcc(b, 0, "RIFF") || !isFourcc(b, 8, "AVI "))
      return None
    var (avih, idx) = (Option.empty[(Int, Int, Int)], false)
    var p = 12
    while (p + 8 <= b.length) {
      val sz = i32(b, p + 4)
      if (sz < 0 || p + 8L + sz > b.length) return None // long: no wrap
      if (isFourcc(b, p, "LIST") && isFourcc(b, p + 8, "hdrl")) {
        // scan the hdrl list for avih
        var q = p + 12
        val end = p + 8 + sz
        while (q + 8 <= end && avih.isEmpty) {
          val qsz = i32(b, q + 4)
          if (qsz < 0 || q + 8L + qsz > end) return None
          if (isFourcc(b, q, "avih") && qsz >= 40) {
            val w = i32(b, q + 8 + 32); val h = i32(b, q + 8 + 36)
            val n = i32(b, q + 8 + 16)
            if (w > 0 && h > 0 && n > 0) avih = Some((w, h, n))
          }
          q += 8 + qsz + (qsz & 1)
        }
      }
      if (isFourcc(b, p, "idx1")) idx = true
      p += 8 + sz + (sz & 1)
    }
    if (idx) avih else None
  }

  /** Resolve the `idx1` index → one (absolute JPEG payload offset, size)
    * per video frame, in stream order. Pure header+index arithmetic: the
    * movi body is never scanned, so a stride-s sampler touches ~1/s of
    * the stream's bytes. `None` if the index is missing or inconsistent
    * with the container bounds. */
  def aviFrameIndex(b: Array[Byte]): Option[Array[(Int, Int)]] = {
    if (b.length < 12 || !isFourcc(b, 0, "RIFF") || !isFourcc(b, 8, "AVI "))
      return None
    var moviFourccPos = -1
    var idxAt = -1; var idxSz = 0
    var p = 12
    while (p + 8 <= b.length) {
      val sz = i32(b, p + 4)
      if (sz < 0 || p + 8L + sz > b.length) return None // long: no wrap
      if (isFourcc(b, p, "LIST") && isFourcc(b, p + 8, "movi")) moviFourccPos = p + 8
      if (isFourcc(b, p, "idx1")) { idxAt = p + 8; idxSz = sz }
      p += 8 + sz + (sz & 1)
    }
    if (moviFourccPos < 0 || idxAt < 0) return None
    val entries = idxSz / 16
    val res = Array.newBuilder[(Int, Int)]
    var i = 0
    while (i < entries) {
      val e = idxAt + 16 * i
      if (isFourcc(b, e, "00dc")) {
        val rel = i32(b, e + 8); val len = i32(b, e + 12)
        // Bounds math in Long: rel near Int.MaxValue must reject, not wrap
        // negative and pass the Int comparison into an array-access throw.
        val payloadL = moviFourccPos.toLong + rel + 8 // skip the chunk's own header
        if (rel < 0 || len < 0 || payloadL + len > b.length) return None
        if (!isFourcc(b, moviFourccPos + rel, "00dc")) return None
        res += ((payloadL.toInt, len))
      }
      i += 1
    }
    val arr = res.result()
    if (arr.isEmpty) None else Some(arr)
  }

  /** Decode video frame `idx` through [[decodeJpegGray]] — only that
    * frame's byte range is touched. Caller resolves the index once via
    * [[aviFrameIndex]]. */
  def aviFrame(b: Array[Byte], entry: (Int, Int)): Option[Raster] = {
    val (off, len) = entry
    decodeJpegGray(java.util.Arrays.copyOfRange(b, off, off + len))
      .map(grayRaster("mjpeg", _))
  }
}
