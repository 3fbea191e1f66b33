package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.QueryDef

/** PERCEPTUAL video dedup — the clip leg completing the modality triangle
  * (text → `dedup_*`, image → `dedup_image_dhash`, audio →
  * `dedup_audio_fingerprint`): two encodes of the same clip should dedup
  * against each other even when their bytes differ (different JPEG
  * quality, a dropped leading frame, container-level churn) — the case a
  * byte-exact or per-frame-exact pass gets wrong.
  *
  * Recipe: per-sampled-frame dHash, TEMPORALLY POOLED by per-bit majority
  * vote — the shape of the published pooled video fingerprints (TMK-style
  * temporal pooling over frame features; Facebook's TMK+PQF pools
  * per-frame descriptors into one clip signature for exactly this
  * re-encode/offset robustness). Frames are resolved through the REAL
  * RIFF/AVI container walk: [[MediaCodec.aviFrameIndex]] reads the `idx1`
  * index once, stride-s sampling decodes only frames 0, s, 2s, … — each
  * one (offset, size) byte range, the ranged-GET posture at object-storage
  * scale — through the JDK's JPEG reader ([[MediaCodec.aviFrame]]), then
  * [[ImageDedup.dhashBands]] (9×8 resize view → ITU-R 601 gray →
  * gradient bits). Clip bit n is 1 iff MORE THAN HALF of the sampled
  * frames set bit n (strict majority; ties → 0, deterministic): a
  * minority of changed/offset frames cannot move a pooled bit, which is
  * what makes a one-frame-offset re-encode land within Hamming ≤
  * [[ImageDedup.MaxDist]] of its original (VideoDedupSpec pins a
  * different-quality, frame-dropped re-encode deduping against its
  * source).
  *
  * Near-dup detection and the per-doc report are [[ImageDedup.report]]
  * VERBATIM — the pooled signature is four 16-bit bands like every other
  * perceptual hash here, so the Manku banding, the exact-group collapse,
  * and the `bit_count(xor)` verification are all shared machinery, and a
  * viral clip duplicated a million times costs its count, never a
  * pairwise blow-up.
  *
  * Plan shape at 100 TB: decode + pool is scan-local (one `idx1` parse +
  * nf/s frame decodes per clip, each a ranged read; pooling is 64
  * counters in the decode loop — nothing per-frame ever shuffles). Only
  * 4 × ~40 B band rows per clip reach the exchange.
  *
  * Oracle: DuckDB replays mosaic formula → resize geometry → gray →
  * per-frame gradient bits → majority pooling → banding join
  * value-for-value (the flat-block MJPEG fixture decodes bit-exactly —
  * `multimodal_video_mjpeg`'s proof), so a container-walk, frame-offset,
  * stride, or pooling bug fails value-level. Reference scope:
  * kafka-streams-aggregate has no media analytics; this extends the
  * dedup family (SURVEY.md §2 extensions) to the video column.
  */
object VideoDedup {

  /** Pooled clip signature of an MJPEG-AVI payload as four 16-bit bands:
    * dHash every stride-th indexed frame, majority-vote each of the 64
    * bits. All-(-1) bands for unparseable containers, clips whose index
    * disagrees with the header, or any undecodable sampled frame (one bad
    * frame poisons the clip — surfacing beats silently pooling a partial
    * sample). */
  def clipBands(payload: Array[Byte], stride: Int): Array[Long] = {
    val bad = Array(-1L, -1L, -1L, -1L)
    (MediaCodec.decodeAviHeader(payload), MediaCodec.aviFrameIndex(payload)) match {
      case (Some((_, _, nf)), Some(index)) if index.length == nf && nf > 0 =>
        val counts = new Array[Int](64)
        var sampled = 0
        var f = 0
        while (f < nf) {
          MediaCodec.aviFrame(payload, index(f)) match {
            case Some(r) =>
              val b = ImageDedup.dhashBands(r)
              var n = 0
              while (n < 64) {
                if (((b(n / 16) >> (n % 16)) & 1L) == 1L) counts(n) += 1
                n += 1
              }
              sampled += 1
            case None => return bad
          }
          f += math.max(1, stride)
        }
        Array.tabulate(4) { i =>
          var band = 0L
          var j = 0
          while (j < 16) {
            if (2 * counts(16 * i + j) > sampled) band |= 1L << j
            j += 1
          }
          band
        }
      case _ => bad
    }
  }

  /** FIXTURE: deterministic MJPEG-AVI clip with a RICHER mosaic grid than
    * `multimodal_video_mjpeg`'s (3–6 block columns instead of 1–3): the
    * dHash only reads horizontal gradients of the 9×8 resize, so a 1-wide
    * mosaic is horizontally flat and every such clip pools to the all-zero
    * signature — fine for frame statistics, degenerate for dedup. Four
    * block ROWS (h = 32), so each dHash boundary bit shares its vote with
    * exactly one row-neighbor (dest rows 2y/2y+1 sample block row y):
    * pairwise Hamming moves in steps of 2, keeping the ≤3 near window
    * reachable — one block row (the mosaic fixtures' default) makes every
    * clip horizontally uniform per column and Hamming a multiple of 8,
    * structurally outside the window. Same block-value formula
    * (char (f·11 + i)), same REAL q75 JPEG + RIFF/AVI mux (flat blocks of
    * ANY value round-trip bit-exactly at q75: DC quantizer is exactly
    * 8). */
  def renderClipFixture(docId: Long, text: String): Array[Byte] = {
    val bw = (3 + docId % 4).toInt
    val bh = 4
    val w = 8 * bw; val h = 8 * bh
    val nf = (2 + docId % 3).toInt
    val frames = (0 until nf).map { f =>
      val gray = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          gray(y * w + x) =
            Multimodal.clipFixtureByte(text, f * 11 + (y / 8) * bw + (x / 8)).toByte
          x += 1
        }
        y += 1
      }
      MediaCodec.encodeJpegGray(w, h, gray, quality = 75)
    }
    MediaCodec.encodeAviMjpeg(w, h, frames, fps = 10)
  }

  /** Batched container-walk → per-frame dHash → majority pool. */
  def fingerprints(spark: SparkSession, payloads: Dataset[MediaRecord],
      strideOf: Long => Int): Dataset[DHashBands] =
    ImageDedup.batchedBands(spark, payloads)(rec =>
      clipBands(rec.payload, strideOf(rec.doc_id)))

  /** Oracle: the MJPEG mosaic fixture (block value = char (f·11 + i),
    * w = 8·bw, h = 8·bh, nf = 2 + id mod 3, stride s = 1 + id mod 3 —
    * `multimodal_video_mjpeg`'s formulas) replayed through the dHash
    * geometry: 9×8 dest pixel (x, y) samples source
    * (sx, sy) = (x·w div 9, y·h div 8), whose flat block is
    * (sy div 8)·bw + (sx div 8); grayscale of a gray JPEG is the value
    * itself. Per-frame band exprs are the image oracle's; pooling is the
    * strict-majority vote with the aggregate INSIDE each compile-time
    * bit term (2·SUM(bit) > COUNT(*)). */
  /** The fixture-formula pooled-fingerprint replay as a reusable CTE
    * prefix ending in `fp(doc_id, b0..b3)` — shared by the one-shot
    * report oracle and the incremental oracle. */
  private val fpCte: String = {
    val frameBandExprs = (0 until 4).map { i =>
      (0 until 16).map { j =>
        val n = 16 * i + j
        val y = n / 8; val x = n % 8
        s"(CASE WHEN gv[${y * 9 + x + 1}] < gv[${y * 9 + x + 2}] THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", s") AS b$i")
    }.mkString(",\n      |           ")
    val pooledExprs = (0 until 4).map { i =>
      (0 until 16).map { j =>
        s"(CASE WHEN 2 * SUM((b$i >> $j) & 1) > COUNT(*) THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", s") AS b$i")
    }.mkString(",\n      |           ")
    s"""p AS (SELECT doc_id, text, length(text) AS len,
      |                  3 + doc_id % 4 AS bw, 4 AS bh,
      |                  2 + doc_id % 3 AS nf, 1 + doc_id % 3 AS s
      |           FROM documents),
      |f AS (SELECT doc_id, text, len, bw, bh, 8*bw AS w, 8*bh AS h, fi
      |      FROM (SELECT p.*, unnest(generate_series(0, nf - 1)) AS fi FROM p)
      |      WHERE fi % s = 0),
      |g AS (SELECT doc_id, fi,
      |             list_transform(generate_series(0, 71), k ->
      |                ascii(substr(text, CAST((fi*11
      |                  + ((k // 9) * h // 8 // 8) * bw
      |                  + ((k % 9) * w // 9 // 8)) % len AS INT) + 1, 1))) AS gv
      |      FROM f),
      |vf AS (SELECT doc_id, fi,
      |           $frameBandExprs
      |       FROM g),
      |fp AS (SELECT doc_id,
      |           $pooledExprs
      |       FROM vf GROUP BY doc_id)""".stripMargin
  }

  /** The pooled clip-fingerprint modality: its fingerprint table is a
    * train-once artifact like [[ImageDedup.media]]'s, so the container
    * walk + frame decode + majority pooling runs once per corpus content
    * while the oracle keeps replaying the whole derivation in SQL. The
    * fixture samples every (1 + id mod 3)-th frame. */
  private[graft] val media = MediaFixture("vid", renderClipFixture,
    (s, p) => fingerprints(s, p, id => (1 + id % 3).toInt), fpCte)

  val query: QueryDef = media.report("dedup_video_fingerprint", "vhash")

  /** INCREMENTAL perceptual video dedup — the EIGHTH member of the
    * cross-snapshot family, the clip analogue of `dedup_incremental_image`
    * sharing its probe machinery VERBATIM ([[ImageDedup.incrementalDropped]]
    * — the pooled clip signature is the same four-16-bit-band shape):
    * yesterday's corpus persists as a clip-signature store (band table
    * bucketed by band hash, signature table bucketed by doc_id, both
    * through the real write path), and a new batch pays only its own
    * container-walk + frame decode + pooling plus an in-place band-bucket
    * probe — history clips are never re-decoded, the property that makes
    * daily video ingest O(batch frames), never O(corpus frames). Keep rule
    * mirrors the MinHash/image twins: drop a batch clip iff any history
    * clip or earlier-id batch clip lies within Hamming ≤ MaxDist. The
    * oracle replays the pooled-fingerprint derivation from the raw corpus
    * (sound because the store build is a deterministic function of the
    * 80/20 split) through the SAME incremental SQL tail as the image twin. */
  val incremental: QueryDef = media.incremental("dedup_incremental_video")

  val all: Seq[QueryDef] = Seq(query, incremental)
}
