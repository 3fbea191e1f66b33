package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** A multimodal record: opaque media bytes + typed metadata. In a real
  * pipeline `payload` holds image/audio/video bytes read from object storage;
  * here it is the document's UTF-8 bytes standing in as an opaque blob. */
final case class MediaRecord(doc_id: Long, payload: Array[Byte])

/** Features extracted from one media payload. */
final case class MediaFeatures(
    doc_id: Long,
    n_bytes: Long,
    header_byte: Long,
    trailer_byte: Long,
    fake_width: Long,
    fake_height: Long)

/** Multimodal-column plumbing: binary payload column, batched decode /
  * feature-extract via mapPartitions (the JVM analogue of a vectorized
  * batch UDF — one buffer of records per call, amortizing per-batch setup
  * such as a decoder handle), typed output schema.
  *
  * Two decode paths:
  *
  *  - **Real decode** ([[imageFeatures]] / `multimodal_decode`): BMP, PNG
  *    and PPM payloads are decoded by [[MediaCodec]] (the JDK's
  *    `javax.imageio` readers for BMP and PNG, its own P6 parser for PPM)
  *    and reduced to channel statistics. The oracle-checked query decodes
  *    fixture images RENDERED from the documents table (pixels derived
  *    deterministically from the text bytes), so DuckDB can predict the
  *    decoded statistics without a codec of its own; the position-weighted
  *    checksum makes a row-order or channel-order bug fail the oracle.
  *  - **Stub fallback** ([[decodeStub]] / `multimodal_meta`): payloads in
  *    formats this container cannot decode (compressed video needs native
  *    codecs; JPEG graduated to the real path in round 9 and decodes
  *    through the JDK's reader) keep the original deterministic
  *    byte-arithmetic fake — the plumbing contract for opaque media stays
  *    oracle-checked.
  */
object Multimodal {

  val BatchSize = 64

  /** Deterministic fake decoder — replace with a real codec call in
    * production. Operates on raw bytes only. */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val n = r.payload.length.toLong
    val head = if (n > 0) (r.payload(0) & 0xffL) else 0L
    val tail = if (n > 0) (r.payload(r.payload.length - 1) & 0xffL) else 0L
    MediaFeatures(
      doc_id = r.doc_id,
      n_bytes = n,
      header_byte = head,
      trailer_byte = tail,
      fake_width = 32L + (head * 7L + n) % 480L,
      fake_height = 32L + (tail * 11L + n) % 480L)
  }

  /** documents → binary payload column → batched decode. */
  def features(spark: SparkSession, docs: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    batched(docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord])(_.map(decodeStub))
  }

  /** The batched shell every media decoder runs in: each partition hands
    * `decode` fixed-size chunks of [[BatchSize]] payloads, like a
    * vectorized UDF (a real decoder would init its handle once per batch
    * here). */
  private[operators] def batched[T: Encoder](payloads: Dataset[MediaRecord])(
      decode: Seq[MediaRecord] => Seq[T]): Dataset[T] =
    payloads.mapPartitions(_.grouped(BatchSize).flatMap(decode))

  /** Oracle-checked metadata extraction. Documents are ASCII (verified), so
    * byte positions and char positions coincide and the fake-decode is
    * expressible relationally in DuckDB. */
  /** Decoded-image statistics row (see [[MediaCodec]] for pos_hash). */
  final case class ImageFeatures(
      doc_id: Long,
      format: String,
      width: Long,
      height: Long,
      n_pixels: Long,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      pos_hash: Long)

  /** FIXTURE: deterministic raster derived from a document — dimensions
    * from doc_id, pixel channels from the text bytes (pixel k reads char
    * k mod len: r = a, g = (3a+7)%256, b = (5a+11)%256), doc_id mod 3
    * choosing BMP / PPM / PNG. This stands in for reading image bytes
    * from object storage; the DECODER under test never sees these
    * formulas, only the encoded file (for PNG that means a real zlib
    * inflate and all five scanline unfilters on the way back). */
  /** Fixture byte source, shared by the image and audio renderers. The
    * DuckDB oracles read `ascii(substr(text, k+1, 1))` — the full code
    * point of the k-th CHARACTER — so the fixture contract is ASCII text
    * only, asserted here: on a UTF-16 surrogate or any non-ASCII char,
    * `charAt(...) & 0xff` would silently diverge from the oracle's value.
    * Empty text (mod-by-zero on `k % length`) falls back to a constant
    * mid-range sample instead of throwing; the synthetic corpus is
    * non-empty ASCII, so neither guard fires under the oracle. */
  private def fixtureByte(text: String, k: Int): Int = clipFixtureByte(text, k)

  /** [[fixtureByte]] shared with [[VideoDedup]]'s clip fixture. */
  private[operators] def clipFixtureByte(text: String, k: Int): Int =
    if (text.isEmpty) 64
    else {
      val c = text.charAt(k % text.length).toInt
      require(c < 128, s"fixture contract: ASCII text only, got code point $c")
      c
    }

  def renderFixture(docId: Long, text: String): Array[Byte] = {
    val w = (8 + docId % 9).toInt
    val h = (8 + (docId * 3) % 7).toInt
    val rgb = new Array[Byte](3 * w * h)
    var k = 0
    while (k < w * h) {
      val a = fixtureByte(text, k)
      rgb(3 * k) = a.toByte
      rgb(3 * k + 1) = ((3 * a + 7) % 256).toByte
      rgb(3 * k + 2) = ((5 * a + 11) % 256).toByte
      k += 1
    }
    docId % 3 match {
      case 0 => MediaCodec.encodeBmp(w, h, rgb)
      case 1 => MediaCodec.encodePpm(w, h, rgb)
      case _ => MediaCodec.encodePng(w, h, rgb)
    }
  }

  /** Batched REAL decode: payload bytes → [[MediaCodec.decode]] → channel
    * stats. Same partition-parallel mapPartitions shape as [[features]];
    * a payload the codec rejects surfaces as a null-format row rather than
    * failing the batch (callers route those to [[decodeStub]]). */
  def imageFeatures(spark: SparkSession,
      payloads: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import spark.implicits._
    batched(payloads)(_.map { rec =>
      MediaCodec.decode(rec.payload) match {
        case Some(img) => ImageFeatures(rec.doc_id, img.format,
          img.width.toLong, img.height.toLong,
          img.width.toLong * img.height, img.sumR, img.sumG, img.sumB,
          img.posHash)
        case None => ImageFeatures(rec.doc_id, null, -1L, -1L, -1L,
          -1L, -1L, -1L, -1L)
      }
    })
  }

  /** Render fixture rasters from the documents table and REALLY decode
    * them: the oracle predicts the statistics from the fixture formulas,
    * the engine recovers them through full BMP/PPM parsing — header,
    * padding, row order, channel order all on the line. */
  val decodeQuery: QueryDef = QueryDef.sql(
    "multimodal_decode",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 7 AS h
      |           FROM documents),
      |px AS (SELECT doc_id, w, h,
      |              list_transform(generate_series(0, w*h - 1),
      |                 k -> ascii(substr(text, CAST(k % len AS INT) + 1, 1))) AS av
      |       FROM p)
      |SELECT doc_id,
      |       CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'png' END AS format,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(w*h AS BIGINT) AS n_pixels,
      |       CAST(list_sum(av) AS BIGINT) AS sum_r,
      |       CAST(list_sum(list_transform(av, a -> (3*a + 7) % 256)) AS BIGINT) AS sum_g,
      |       CAST(list_sum(list_transform(av, a -> (5*a + 11) % 256)) AS BIGINT) AS sum_b,
      |       CAST(list_sum(list_transform(generate_series(1, w*h),
      |          k -> k * (av[CAST(k AS INT)] + 2*((3*av[CAST(k AS INT)]+7)%256)
      |                    + 3*((5*av[CAST(k AS INT)]+11)%256)))) AS BIGINT) AS pos_hash
      |FROM px ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // fanOut before the codec map (r21): the test parquet is one file =
    // one scan task, so without it the whole fixture encode + decode —
    // the query's entire cost — ran single-threaded; the exchange ships
    // only (doc_id, text) once (guide: break source skew before the
    // expensive per-row stage)
    val payloads = Tables.fanOut(Tables.documents(s, d)
      .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderFixture(id, text)) }
    imageFeatures(s, payloads).toDF().orderBy("doc_id")
  }

  /** FIXTURE: deterministic 8×8-block-constant grayscale mosaic — the
    * construction that makes a REAL lossy JPEG round-trip bit-exact, and
    * therefore DuckDB-oracle-checkable: a constant block's FDCT has only a
    * DC coefficient (ACs are exactly zero), DC = 8·(c−128), and at quality
    * 75 the DC quantizer step is exactly 8 ([[MediaCodec.scaledQuant]]) —
    * so quantization loses nothing and a conforming decoder's IDCT returns
    * every pixel exactly. The ENCODED stream is a full baseline JPEG
    * (markers, canonical Huffman entropy coding, zigzag, byte stuffing)
    * and the decode path is the JDK's JPEG reader (parser + Huffman +
    * dequant + IDCT) — only the VALUES are engineered to survive, which
    * is what lets the oracle predict them from the mosaic formula. */
  def renderJpegFixture(docId: Long, text: String): Array[Byte] = {
    val bw = (1 + docId % 3).toInt // blocks across: 1..3
    val bh = (1 + (docId * 5) % 2).toInt // blocks down: 1..2
    val w = 8 * bw; val h = 8 * bh
    val gray = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        gray(y * w + x) = fixtureByte(text, (y / 8) * bw + (x / 8)).toByte
        x += 1
      }
      y += 1
    }
    MediaCodec.encodeJpegGray(w, h, gray, quality = 75)
  }

  /** Render block-mosaic JPEGs from the documents table and REALLY decode
    * them — the JPEG face of `multimodal_decode`: the oracle predicts the
    * statistics from the mosaic formula, the engine recovers them through
    * the JDK's baseline JPEG reader (marker parse, Huffman decode,
    * dequantization, IDCT). Grayscale ⇒ sum_r = sum_g = sum_b. */
  val jpegQuery: QueryDef = QueryDef.sql(
    "multimodal_jpeg",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  1 + doc_id % 3 AS bw, 1 + (doc_id * 5) % 2 AS bh
      |           FROM documents),
      |g AS (SELECT doc_id, bw, 8 * bw AS w, 8 * bh AS h,
      |             list_transform(generate_series(0, bw * bh - 1),
      |                i -> ascii(substr(text, CAST(i % len AS INT) + 1, 1))) AS bv
      |      FROM p)
      |SELECT doc_id, 'jpeg' AS format,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(w * h AS BIGINT) AS n_pixels,
      |       CAST(64 * list_sum(bv) AS BIGINT) AS sum_r,
      |       CAST(64 * list_sum(bv) AS BIGINT) AS sum_g,
      |       CAST(64 * list_sum(bv) AS BIGINT) AS sum_b,
      |       CAST(list_sum(list_transform(generate_series(0, w * h - 1),
      |          k -> (k + 1) * 6 * bv[CAST((k // w // 8) * bw + (k % w) // 8 AS INT) + 1]))
      |         AS BIGINT) AS pos_hash
      |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // fanOut before the codec map (r21): the test parquet is one file =
    // one scan task, so without it the whole fixture encode + decode —
    // the query's entire cost — ran single-threaded; the exchange ships
    // only (doc_id, text) once (guide: break source skew before the
    // expensive per-row stage)
    val payloads = Tables.fanOut(Tables.documents(s, d)
      .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderJpegFixture(id, text)) }
    imageFeatures(s, payloads).toDF().orderBy("doc_id")
  }

  /** Decoded-audio statistics row (see [[MediaCodec.decodeAudio]]). */
  final case class AudioFeatures(
      doc_id: Long,
      sample_rate: Long,
      n_samples: Long,
      duration_micros: Long,
      sum_abs: Long,
      pos_hash: Long)

  /** FIXTURE: deterministic mono 16-bit PCM clip derived from a document —
    * rate and length from doc_id, sample k from the text bytes
    * (`(a·131 + 7k) % 4096 − 2048`, a signed ramp that exercises both
    * polarities). Same stand-in role as [[renderFixture]]. */
  def renderAudioFixture(docId: Long, text: String): Array[Byte] = {
    val rate = (8000 + (docId % 5) * 1000).toInt
    val n = (50 + docId % 30).toInt
    val samples = new Array[Short](n)
    var k = 0
    while (k < n) {
      val a = fixtureByte(text, k)
      samples(k) = ((a * 131 + 7 * k) % 4096 - 2048).toShort
      k += 1
    }
    MediaCodec.encodeWav(rate, samples)
  }

  /** Batched REAL audio decode: WAV bytes → [[MediaCodec.decodeAudio]] →
    * amplitude stats; rejected payloads surface as -1 rows, like
    * [[imageFeatures]]. */
  def audioFeatures(spark: SparkSession,
      payloads: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import spark.implicits._
    batched(payloads)(_.map { rec =>
      MediaCodec.decodeAudio(rec.payload) match {
        case Some(a) => AudioFeatures(rec.doc_id, a.sampleRate.toLong,
          a.nSamples.toLong, a.durationMicros, a.sumAbs, a.posHash)
        case None => AudioFeatures(rec.doc_id, -1L, -1L, -1L, -1L, -1L)
      }
    })
  }

  /** Render fixture WAVs from the documents table and REALLY decode them:
    * the oracle predicts the statistics from the sample formulas, the
    * engine recovers them through full RIFF chunk walking and signed
    * little-endian PCM reads — the audio face of `multimodal_decode`. */
  val audioQuery: QueryDef = QueryDef.sql(
    "multimodal_audio",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  8000 + (doc_id % 5) * 1000 AS rate,
      |                  50 + doc_id % 30 AS n
      |           FROM documents),
      |s AS (SELECT doc_id, rate, n,
      |             list_transform(generate_series(0, n - 1),
      |                k -> (ascii(substr(text, CAST(k % len AS INT) + 1, 1)) * 131 + 7*k) % 4096 - 2048) AS sv
      |      FROM p)
      |SELECT doc_id,
      |       CAST(rate AS BIGINT) AS sample_rate,
      |       CAST(n AS BIGINT) AS n_samples,
      |       CAST(n * 1000000 // rate AS BIGINT) AS duration_micros,
      |       CAST(list_sum(list_transform(sv, x -> abs(x))) AS BIGINT) AS sum_abs,
      |       CAST(list_sum(list_transform(generate_series(1, n),
      |          k -> k * sv[CAST(k AS INT)])) AS BIGINT) AS pos_hash
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // NO fanOut here (r21, measured): this codec is trivial per row, so
    // the round-robin exchange costs more than the decode it would spread
    // (same-mode A/B; the heavy codecs below DO fan out)
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderAudioFixture(id, text)) }
    audioFeatures(s, payloads).toDF().orderBy("doc_id")
  }

  /** Resized-image statistics row: source dims + destination dims + the
    * same channel/order stats computed over the RESIZED raster. */
  final case class ResizedFeatures(
      doc_id: Long,
      format: String,
      src_width: Long,
      src_height: Long,
      width: Long,
      height: Long,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      pos_hash: Long)

  /** Batched decode → nearest-neighbor resize → reduce. The target shape
    * is a function of doc_id so the fixture sweep covers BOTH up- and
    * down-scaling; a production preprocessing job passes constants
    * (`_ => 224`). The resize is a composed pixel VIEW
    * ([[MediaCodec.resizeNearest]]): work is O(destination pixels) per
    * image and no intermediate raster is materialized — at 100 TB the
    * operator stays a scan-local projection with zero shuffle. */
  def resizedFeatures(spark: SparkSession, payloads: Dataset[MediaRecord],
      dstW: Long => Int, dstH: Long => Int): Dataset[ResizedFeatures] = {
    import spark.implicits._
    batched(payloads)(_.map { rec =>
      MediaCodec.decodeRaster(rec.payload) match {
        case Some(src) =>
          val out = MediaCodec.stats(
            MediaCodec.resizeNearest(src, dstW(rec.doc_id), dstH(rec.doc_id)))
          ResizedFeatures(rec.doc_id, out.format, src.width.toLong,
            src.height.toLong, out.width.toLong, out.height.toLong,
            out.sumR, out.sumG, out.sumB, out.posHash)
        case None => ResizedFeatures(rec.doc_id, null, -1L, -1L, -1L, -1L,
          -1L, -1L, -1L, -1L)
      }
    })
  }

  /** Render the BMP/PPM/PNG fixtures and decode + nearest-neighbor resize
    * them to a doc_id-derived target (4–16 × 4–14 against 8–16 × 8–14
    * sources, so both directions occur): the oracle replays the floor-
    * division source-index rule `(x·w/tw, y·h/th)` against the fixture
    * formulas, pinning the resample GEOMETRY — an off-by-one in the index
    * map or a center-aligned sampler fails the position checksum. */
  val resizeQuery: QueryDef = QueryDef.sql(
    "multimodal_resize",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 7 AS h,
      |                  4 + doc_id % 13 AS tw, 4 + (doc_id * 7) % 11 AS th
      |           FROM documents),
      |px AS (SELECT doc_id, w, h, tw, th,
      |              list_transform(generate_series(0, tw*th - 1),
      |                 kd -> ascii(substr(text,
      |                    CAST((((kd // tw) * h // th) * w + (kd % tw) * w // tw) % len AS INT) + 1, 1))) AS av
      |       FROM p)
      |SELECT doc_id,
      |       CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'png' END AS format,
      |       CAST(w AS BIGINT) AS src_width, CAST(h AS BIGINT) AS src_height,
      |       CAST(tw AS BIGINT) AS width, CAST(th AS BIGINT) AS height,
      |       CAST(list_sum(av) AS BIGINT) AS sum_r,
      |       CAST(list_sum(list_transform(av, a -> (3*a + 7) % 256)) AS BIGINT) AS sum_g,
      |       CAST(list_sum(list_transform(av, a -> (5*a + 11) % 256)) AS BIGINT) AS sum_b,
      |       CAST(list_sum(list_transform(generate_series(1, tw*th),
      |          k -> k * (av[CAST(k AS INT)] + 2*((3*av[CAST(k AS INT)]+7)%256)
      |                    + 3*((5*av[CAST(k AS INT)]+11)%256)))) AS BIGINT) AS pos_hash
      |FROM px ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // fanOut before the codec map (r21): the test parquet is one file =
    // one scan task, so without it the whole fixture encode + decode —
    // the query's entire cost — ran single-threaded; the exchange ships
    // only (doc_id, text) once (guide: break source skew before the
    // expensive per-row stage)
    val payloads = Tables.fanOut(Tables.documents(s, d)
      .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderFixture(id, text)) }
    resizedFeatures(s, payloads,
      id => (4 + id % 13).toInt, id => (4 + id * 7 % 11).toInt)
      .toDF().orderBy("doc_id")
  }

  /** Per-sampled-frame statistics row (frame sampling explodes one video
    * payload into one row per KEPT frame). */
  final case class FrameFeatures(
      doc_id: Long,
      frame_idx: Long,
      width: Long,
      height: Long,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      pos_hash: Long)

  /** FIXTURE: deterministic GVID clip — dims / frame count from doc_id,
    * frame f pixel k channels from the text bytes (a = char (f·7 + k),
    * r = a, g = (2a + f) % 256, b = (a + 3k) % 256), so every frame is
    * distinct and the oracle can predict any frame without decoding. */
  def renderVideoFixture(docId: Long, text: String): Array[Byte] = {
    val w = (4 + docId % 5).toInt
    val h = (4 + (docId * 3) % 4).toInt
    val nf = (3 + docId % 6).toInt
    val frames = (0 until nf).map { f =>
      val rgb = new Array[Byte](3 * w * h)
      var k = 0
      while (k < w * h) {
        val a = fixtureByte(text, f * 7 + k)
        rgb(3 * k) = a.toByte
        rgb(3 * k + 1) = ((2 * a + f) % 256).toByte
        rgb(3 * k + 2) = ((a + 3 * k) % 256).toByte
        k += 1
      }
      rgb
    }
    MediaCodec.encodeGvid(w, h, frames)
  }

  /** Batched frame sampling: parse the container header, then decode ONLY
    * frames 0, s, 2s, … via offset arithmetic ([[MediaCodec.gvidFrame]]) —
    * the seek-don't-scan pattern that makes stride-s sampling read ~1/s of
    * the bytes from ranged object-storage GETs at scale. One input row
    * explodes to one output row per kept frame. */
  def frameSampleFeatures(spark: SparkSession, payloads: Dataset[MediaRecord],
      strideOf: Long => Int): Dataset[FrameFeatures] = {
    import spark.implicits._
    batched(payloads)(_.flatMap { rec =>
      MediaCodec.decodeGvidHeader(rec.payload) match {
        case Some((w, h, nf)) =>
          val stride = math.max(1, strideOf(rec.doc_id))
          (0 until nf by stride).map { f =>
            val st = MediaCodec.stats(MediaCodec.gvidFrame(rec.payload, w, h, f))
            FrameFeatures(rec.doc_id, f.toLong, w.toLong, h.toLong,
              st.sumR, st.sumG, st.sumB, st.posHash)
          }
        case None =>
          Seq(FrameFeatures(rec.doc_id, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
      }
    })
  }

  /** Render GVID fixtures and sample every s-th frame (s = 1 + doc_id % 3,
    * so stride-1 "keep all" and real skipping both occur): the oracle
    * predicts the kept frame set and each kept frame's statistics from the
    * fixture formulas — a sampler that misses the stride, miscounts
    * frames, or reads a wrong frame offset fails on the exploded rows. */
  val frameSampleQuery: QueryDef = QueryDef.sql(
    "multimodal_frame_sample",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  4 + doc_id % 5 AS w, 4 + (doc_id * 3) % 4 AS h,
      |                  3 + doc_id % 6 AS nf, 1 + doc_id % 3 AS s
      |           FROM documents),
      |f AS (SELECT doc_id, text, len, w, h, s,
      |             unnest(generate_series(0, nf - 1)) AS fi
      |      FROM p),
      |sf AS (SELECT doc_id, w, h, fi,
      |              list_transform(generate_series(0, w*h - 1),
      |                 k -> ascii(substr(text, CAST((fi*7 + k) % len AS INT) + 1, 1))) AS av
      |       FROM f WHERE fi % s = 0)
      |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(list_sum(av) AS BIGINT) AS sum_r,
      |       CAST(list_sum(list_transform(av, a -> (2*a + fi) % 256)) AS BIGINT) AS sum_g,
      |       CAST(list_sum(list_transform(generate_series(0, w*h - 1),
      |          k -> (av[CAST(k AS INT) + 1] + 3*k) % 256)) AS BIGINT) AS sum_b,
      |       CAST(list_sum(list_transform(generate_series(0, w*h - 1),
      |          k -> (k + 1) * (av[CAST(k AS INT) + 1]
      |                + 2*((2*av[CAST(k AS INT) + 1] + fi) % 256)
      |                + 3*((av[CAST(k AS INT) + 1] + 3*k) % 256)))) AS BIGINT) AS pos_hash
      |FROM sf ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    // NO fanOut here (r21, measured): this codec is trivial per row, so
    // the round-robin exchange costs more than the decode it would spread
    // (same-mode A/B; the heavy codecs below DO fan out)
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderVideoFixture(id, text)) }
    frameSampleFeatures(s, payloads, id => (1 + id % 3).toInt)
      .toDF().orderBy("doc_id", "frame_idx")
  }

  /** FIXTURE: deterministic MJPEG-AVI clip — per-frame flat-8×8-block
    * grayscale mosaics (frame f block i value = char (f·11 + i)), each
    * frame a REAL baseline JPEG (flat blocks survive quality-75 DCT +
    * quantization exactly — see [[renderJpegFixture]]'s proof), muxed
    * into a REAL RIFF/AVI container with an `idx1` frame index
    * ([[MediaCodec.encodeAviMjpeg]]). This closes the video stub seam:
    * where GVID stood in for "a container we can't decode", MJPEG-AVI is
    * a standard public format whose container this engine writes and
    * walks itself, and whose JPEG frames it writes and decodes through
    * the JDK's reader. */
  def renderMjpegFixture(docId: Long, text: String): Array[Byte] = {
    val bw = (1 + docId % 3).toInt
    val bh = (1 + (docId * 5) % 2).toInt
    val w = 8 * bw; val h = 8 * bh
    val nf = (2 + docId % 4).toInt
    val frames = (0 until nf).map { f =>
      val gray = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          gray(y * w + x) = fixtureByte(text, f * 11 + (y / 8) * bw + (x / 8)).toByte
          x += 1
        }
        y += 1
      }
      MediaCodec.encodeJpegGray(w, h, gray, quality = 75)
    }
    MediaCodec.encodeAviMjpeg(w, h, frames, fps = 10)
  }

  /** Batched MJPEG-AVI frame sampling: resolve the `idx1` index ONCE, then
    * decode only frames 0, s, 2s, … through the full baseline JPEG
    * decoder — each kept frame is one (offset, size) byte range, the
    * ranged-GET posture an external frame index buys (GVID got it from
    * constant frame size; a real index is how variable-size codecs get
    * it). Unparseable containers surface as -1 rows, like every other
    * media path here. */
  def mjpegFrameFeatures(spark: SparkSession, payloads: Dataset[MediaRecord],
      strideOf: Long => Int): Dataset[FrameFeatures] = {
    import spark.implicits._
    batched(payloads)(_.flatMap { rec =>
      (MediaCodec.decodeAviHeader(rec.payload), MediaCodec.aviFrameIndex(rec.payload)) match {
        case (Some((w, h, nf)), Some(index)) if index.length == nf =>
          val stride = math.max(1, strideOf(rec.doc_id))
          (0 until nf by stride).flatMap { f =>
            MediaCodec.aviFrame(rec.payload, index(f)).map { raster =>
              val st = MediaCodec.stats(raster)
              FrameFeatures(rec.doc_id, f.toLong, st.width.toLong, st.height.toLong,
                st.sumR, st.sumG, st.sumB, st.posHash)
            }
          }
        case _ =>
          Seq(FrameFeatures(rec.doc_id, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
      }
    })
  }

  /** Render MJPEG-AVI fixtures and sample every s-th frame (s = 1 +
    * doc_id % 3): the oracle predicts each kept frame's statistics from
    * the flat-block mosaic formula; the engine recovers them through the
    * real container parse (RIFF lists, avih, idx1 offsets) AND the real
    * JPEG entropy/DCT pipeline per sampled frame. A muxer or index bug
    * shifts byte ranges and fails every row; a codec bug fails the
    * values. */
  val videoMjpegQuery: QueryDef = QueryDef.sql(
    "multimodal_video_mjpeg",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  1 + doc_id % 3 AS bw, 1 + (doc_id * 5) % 2 AS bh,
      |                  2 + doc_id % 4 AS nf, 1 + doc_id % 3 AS s
      |           FROM documents),
      |f AS (SELECT doc_id, text, len, bw, bh, s, 8*bw AS w, 8*bh AS h,
      |             unnest(generate_series(0, nf - 1)) AS fi
      |      FROM p),
      |sf AS (SELECT doc_id, w, h, fi,
      |              list_transform(generate_series(0, bw*bh - 1),
      |                 i -> ascii(substr(text, CAST((fi*11 + i) % len AS INT) + 1, 1))) AS bv,
      |              bw
      |       FROM f WHERE fi % s = 0)
      |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(64 * list_sum(bv) AS BIGINT) AS sum_r,
      |       CAST(64 * list_sum(bv) AS BIGINT) AS sum_g,
      |       CAST(64 * list_sum(bv) AS BIGINT) AS sum_b,
      |       CAST(list_sum(list_transform(generate_series(0, w*h - 1),
      |          k -> (k + 1) * 6 * bv[CAST((k // w // 8) * bw + (k % w) // 8 AS INT) + 1]))
      |         AS BIGINT) AS pos_hash
      |FROM sf ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    // fanOut before the codec map (r21): the test parquet is one file =
    // one scan task, so without it the whole fixture encode + decode —
    // the query's entire cost — ran single-threaded; the exchange ships
    // only (doc_id, text) once (guide: break source skew before the
    // expensive per-row stage)
    val payloads = Tables.fanOut(Tables.documents(s, d)
      .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderMjpegFixture(id, text)) }
    mjpegFrameFeatures(s, payloads, id => (1 + id % 3).toInt)
      .toDF().orderBy("doc_id", "frame_idx")
  }

  /** Per-sampled-GIF-frame statistics row: frame rect + GCE delay + the
    * standard channel/order stats over the frame's own raster. */
  final case class GifFrameFeatures(
      doc_id: Long,
      frame_idx: Long,
      width: Long,
      height: Long,
      delay_cs: Long,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      pos_hash: Long)

  /** 16-color fixture palette, entry p → (13p+5, 29p+11, 37p+23) mod 256 —
    * formulas the oracle replays per palette INDEX, so a decoder that
    * misreads the color table (or the LZW stream feeding the indices)
    * fails at value level. */
  val GifPalette: Array[Int] = Array.tabulate(16) { p =>
    (((p * 13 + 5) % 256) << 16) | (((p * 29 + 11) % 256) << 8) | ((p * 37 + 23) % 256)
  }

  /** FIXTURE: deterministic animated GIF — dims / frame count / delay from
    * doc_id, frame f pixel k's palette index = char (f·11 + k) mod 16.
    * The ENCODED stream is real GIF89a with real LZW compression; the
    * JDK's GIF reader (color table, GCE delays, LZW with width growth)
    * recovers what the oracle predicts. */
  def renderGifFixture(docId: Long, text: String): Array[Byte] = {
    val w = (4 + docId % 5).toInt
    val h = (4 + (docId * 3) % 4).toInt
    val nf = (2 + docId % 4).toInt
    val delay = (4 + docId % 7).toInt
    val frames = (0 until nf).map { f =>
      Array.tabulate[Byte](w * h)(k => (fixtureByte(text, f * 11 + k) % 16).toByte)
    }
    MediaCodec.encodeGif(w, h, GifPalette, frames, delay)
  }

  /** Batched animated-GIF frame sampling — [[frameSampleFeatures]] on a
    * REAL wire format: full GIF decode, then keep frames 0, s, 2s, …
    * (LZW is a sequential entropy code, so unlike GVID the skipped frames'
    * bytes are still parsed — the honest cost of sampling a compressed
    * container without an external frame index). */
  def gifFrameSampleFeatures(spark: SparkSession, payloads: Dataset[MediaRecord],
      strideOf: Long => Int): Dataset[GifFrameFeatures] = {
    import spark.implicits._
    batched(payloads)(_.flatMap { rec =>
      MediaCodec.decodeGifFrames(rec.payload) match {
        case Some(anim) =>
          val stride = math.max(1, strideOf(rec.doc_id))
          anim.frames.zipWithIndex.collect {
            case (f, i) if i % stride == 0 =>
              val st = MediaCodec.stats(MediaCodec.gifFrameRaster(f))
              GifFrameFeatures(rec.doc_id, i.toLong, f.width.toLong,
                f.height.toLong, f.delayCs.toLong,
                st.sumR, st.sumG, st.sumB, st.posHash)
          }
        case None =>
          Seq(GifFrameFeatures(rec.doc_id, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
      }
    })
  }

  /** Render animated-GIF fixtures and sample every s-th frame through the
    * REAL decoder: palette resolution, LZW decompression, frame order and
    * GCE delays are all on the line — the oracle predicts every kept
    * frame's statistics from the index/palette formulas. */
  val gifFramesQuery: QueryDef = QueryDef.sql(
    "multimodal_gif_frames",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  4 + doc_id % 5 AS w, 4 + (doc_id * 3) % 4 AS h,
      |                  2 + doc_id % 4 AS nf, 1 + doc_id % 2 AS s,
      |                  4 + doc_id % 7 AS delay
      |           FROM documents),
      |f AS (SELECT doc_id, text, len, w, h, s, delay,
      |             unnest(generate_series(0, nf - 1)) AS fi
      |      FROM p),
      |sf AS (SELECT doc_id, w, h, fi, delay,
      |              list_transform(generate_series(0, w*h - 1),
      |                 k -> ascii(substr(text, CAST((fi*11 + k) % len AS INT) + 1, 1)) % 16) AS iv
      |       FROM f WHERE fi % s = 0)
      |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
      |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |       CAST(delay AS BIGINT) AS delay_cs,
      |       CAST(list_sum(list_transform(iv, i -> (i*13 + 5) % 256)) AS BIGINT) AS sum_r,
      |       CAST(list_sum(list_transform(iv, i -> (i*29 + 11) % 256)) AS BIGINT) AS sum_g,
      |       CAST(list_sum(list_transform(iv, i -> (i*37 + 23) % 256)) AS BIGINT) AS sum_b,
      |       CAST(list_sum(list_transform(generate_series(0, w*h - 1),
      |          k -> (k + 1) * ((iv[CAST(k AS INT) + 1]*13 + 5) % 256
      |                + 2*((iv[CAST(k AS INT) + 1]*29 + 11) % 256)
      |                + 3*((iv[CAST(k AS INT) + 1]*37 + 23) % 256)))) AS BIGINT) AS pos_hash
      |FROM sf ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    import s.implicits._
    // fanOut before the codec map (r21): the test parquet is one file =
    // one scan task, so without it the whole fixture encode + decode —
    // the query's entire cost — ran single-threaded; the exchange ships
    // only (doc_id, text) once (guide: break source skew before the
    // expensive per-row stage)
    val payloads = Tables.fanOut(Tables.documents(s, d)
      .select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderGifFixture(id, text)) }
    gifFrameSampleFeatures(s, payloads, id => (1 + id % 2).toInt)
      .toDF().orderBy("doc_id", "frame_idx")
  }

  /** Sample-level audio features: window count, zero-crossing rate, peak
    * window energy, and a position-weighted energy checksum. */
  final case class AudioWindowFeatures(
      doc_id: Long,
      n_samples: Long,
      n_windows: Long,
      zero_crossings: Long,
      max_window_energy: Long,
      win_hash: Long)

  val AudioWindow = 16

  /** Batched PCM feature extraction over [[MediaCodec.decodeAudioPcm]]:
    * fixed 16-sample windows (last window partial), per-window energy
    * Σ|s|, zero crossings counted as strict sign flips (s·s' < 0 — the
    * integer-exact rule), peak window energy, and Σ (w+1)·E_w pinning
    * window ORDER. These are the classic VAD/segmentation features and
    * every output is an integer, so the oracle replays them exactly. */
  def audioWindowFeatures(spark: SparkSession,
      payloads: Dataset[MediaRecord]): Dataset[AudioWindowFeatures] = {
    import spark.implicits._
    batched(payloads)(_.map { rec =>
      MediaCodec.decodeAudioPcm(rec.payload) match {
        case Some((_, s)) =>
          val n = s.length
          val nw = (n + AudioWindow - 1) / AudioWindow
          var zc = 0L; var maxE = 0L; var winHash = 0L
          var w = 0
          while (w < nw) {
            var e = 0L
            var k = w * AudioWindow
            val end = math.min(k + AudioWindow, n)
            while (k < end) { e += math.abs(s(k)); k += 1 }
            if (e > maxE) maxE = e
            winHash += (w + 1).toLong * e
            w += 1
          }
          var k = 1
          while (k < n) {
            if (s(k - 1).toLong * s(k) < 0) zc += 1
            k += 1
          }
          AudioWindowFeatures(rec.doc_id, n.toLong, nw.toLong, zc, maxE, winHash)
        case None => AudioWindowFeatures(rec.doc_id, -1L, -1L, -1L, -1L, -1L)
      }
    })
  }

  /** Render the WAV fixtures and extract windowed features from the REALLY
    * decoded PCM: the oracle replays windowing, sign flips, and the energy
    * checksum from the sample formulas — the feature-extraction face of
    * `multimodal_audio` (which pins only whole-clip statistics). */
  val audioFeaturesQuery: QueryDef = QueryDef.sql(
    "multimodal_audio_features",
    """WITH p AS (SELECT doc_id, text, length(text) AS len,
      |                  50 + doc_id % 30 AS n
      |           FROM documents),
      |s AS (SELECT doc_id, n,
      |             list_transform(generate_series(0, n - 1),
      |                k -> (ascii(substr(text, CAST(k % len AS INT) + 1, 1)) * 131 + 7*k) % 4096 - 2048) AS sv
      |      FROM p),
      |w AS (SELECT doc_id, n, sv, (n + 15) // 16 AS nw,
      |             list_transform(generate_series(0, (n + 15) // 16 - 1),
      |                wi -> list_sum(list_transform(
      |                   generate_series(CAST(wi*16 + 1 AS INT), CAST(least(wi*16 + 16, n) AS INT)),
      |                   k -> abs(sv[k])))) AS ev
      |      FROM s)
      |SELECT doc_id,
      |       CAST(n AS BIGINT) AS n_samples,
      |       CAST(nw AS BIGINT) AS n_windows,
      |       CAST(list_sum(list_transform(generate_series(2, n),
      |          k -> CASE WHEN sv[CAST(k-1 AS INT)] * sv[CAST(k AS INT)] < 0 THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
      |       CAST(list_max(ev) AS BIGINT) AS max_window_energy,
      |       CAST(list_sum(list_transform(generate_series(1, nw),
      |          wi -> wi * ev[CAST(wi AS INT)])) AS BIGINT) AS win_hash
      |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // NO fanOut here (r21, measured): this codec is trivial per row, so
    // the round-robin exchange costs more than the decode it would spread
    // (same-mode A/B; the heavy codecs below DO fan out)
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, renderAudioFixture(id, text)) }
    audioWindowFeatures(s, payloads).toDF().orderBy("doc_id")
  }

  val meta: QueryDef = QueryDef.sql(
    "multimodal_meta",
    """SELECT doc_id,
      |       CAST(length(text) AS BIGINT) AS n_bytes,
      |       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS header_byte,
      |       CAST(ascii(substr(text, length(text), 1)) AS BIGINT) AS trailer_byte,
      |       CAST(32 + (ascii(substr(text, 1, 1)) * 7 + length(text)) % 480 AS BIGINT) AS fake_width,
      |       CAST(32 + (ascii(substr(text, length(text), 1)) * 11 + length(text)) % 480 AS BIGINT) AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    features(s, Tables.documents(s, d)).toDF().orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(meta, decodeQuery, audioQuery, jpegQuery,
    resizeQuery, frameSampleQuery, videoMjpegQuery, audioFeaturesQuery,
    gifFramesQuery)
}
