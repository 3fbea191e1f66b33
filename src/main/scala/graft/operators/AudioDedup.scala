package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.QueryDef

/** PERCEPTUAL audio dedup — the audio leg of the modality triangle
  * (text → `dedup_*`, image → `dedup_image_dhash`, audio → here), a
  * standard pass in speech/audio corpus pipelines where the same clip
  * recurs under different container metadata or trivial level tweaks.
  *
  * Recipe: envelope difference hash, the 1-D analogue of image dHash and
  * the shape of the published robust audio hashes (Haitsma & Kalker's
  * Philips fingerprint derives bits from energy DIFFERENCES across
  * frames for exactly this level-invariance). Decode the payload through
  * the REAL [[MediaCodec.decodeAudioPcm]] RIFF/PCM parser, resample the
  * rectified envelope |s_k| to 65 points with the same floor-division
  * nearest-neighbor rule as [[MediaCodec.resizeNearest]]
  * (point j reads sample (j·n)/65), then one bit per neighbor pair:
  * bit g = env(g) < env(g+1) — 64 bits carried as four 16-bit bands,
  * never assembled into one 64-bit value (bit 63 vs signed BIGINT, see
  * [[DHashBands]]).
  *
  * Near-dup detection and the per-doc report are [[ImageDedup.report]]
  * verbatim — the Manku 4×16 banding guarantees any pair within Hamming
  * ≤ 3 shares a band, so candidates come from per-band bucket joins and
  * `bit_count(xor)` verifies. A clip duplicated a million times costs
  * its count in the exact-group aggregate, never a pairwise blow-up.
  *
  * Plan shape at 100 TB: decode + hash is scan-local (one linear PCM
  * pass + 65 envelope reads per clip); only 4 × ~40 B band rows shuffle.
  * The fingerprint depends on the SAMPLES alone — container sample-rate
  * relabeling cannot split a duplicate group (spec-pinned).
  *
  * Oracle: DuckDB replays fixture formula → envelope resample → gradient
  * bits → banding join value-for-value, so a sign, index-origin, or
  * chunk-walk bug in the WAV decoder fails value-level. Reference scope:
  * kafka-streams-aggregate has no media analytics; this extends the
  * dedup family (SURVEY.md §2 extensions) to the audio column.
  */
object AudioDedup {

  /** Envelope points: 64 gradient bits need 65 samples of the envelope. */
  val Points = 65

  /** Envelope dHash of a PCM clip as four 16-bit bands; None-equivalent
    * (-1 bands) for empty clips upstream. */
  def afpBands(samples: Array[Int]): Array[Long] = {
    val n = samples.length
    val env = Array.tabulate(Points)(j => math.abs(samples((j * n) / Points)))
    Array.tabulate(4) { i =>
      var band = 0L
      var j = 0
      while (j < 16) {
        val g = 16 * i + j
        if (env(g) < env(g + 1)) band |= 1L << j
        j += 1
      }
      band
    }
  }

  /** Batched decode → envelope hash. Undecodable or empty payloads
    * surface as all-(-1) bands and join no band bucket downstream. */
  def fingerprints(spark: SparkSession,
      payloads: Dataset[MediaRecord]): Dataset[DHashBands] =
    ImageDedup.batchedBands(spark, payloads)(rec =>
      MediaCodec.decodeAudioPcm(rec.payload) match {
        case Some((_, s)) if s.nonEmpty => afpBands(s)
        case _ => ImageDedup.Unhashed
      })

  /** Oracle: fixture formula → envelope → gradient bits, then the exact
    * banding replay shared with the image oracle. Sample k of clip
    * (n = 50 + doc_id mod 30) is (ascii·131 + 7k) mod 4096 − 2048;
    * envelope point j reads 1-based index (j·n)//65 + 1. */
  /** The fixture-formula envelope-hash replay as a reusable CTE prefix
    * ending in `fp(doc_id, b0..b3)` — shared by the one-shot report
    * oracle and the incremental oracle. */
  private val fpCte: String = {
    val bandExprs = (0 until 4).map { i =>
      (0 until 16).map { j =>
        val g = 16 * i + j
        s"(CASE WHEN av[CAST(($g*n)//65 AS INT) + 1] < av[CAST((${g + 1}*n)//65 AS INT) + 1] THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", s") AS b$i")
    }.mkString(",\n      |           ")
    s"""p AS (SELECT doc_id, text, length(text) AS len,
      |                  50 + doc_id % 30 AS n
      |           FROM documents),
      |s AS (SELECT doc_id, n,
      |             list_transform(generate_series(0, n - 1),
      |                k -> abs((ascii(substr(text, CAST(k % len AS INT) + 1, 1)) * 131 + 7*k) % 4096 - 2048)) AS av
      |      FROM p),
      |fp AS (SELECT doc_id,
      |           $bandExprs
      |       FROM s)""".stripMargin
  }

  /** The envelope-hash modality: its fingerprint table is a train-once
    * artifact like [[ImageDedup.media]]'s, so PCM decode + envelope
    * hashing runs once per corpus content while the oracle keeps
    * replaying the derivation in SQL. */
  private[graft] val media = MediaFixture("aud", Multimodal.renderAudioFixture,
    fingerprints, fpCte)

  val query: QueryDef = media.report("dedup_audio_fingerprint", "afp")

  /** INCREMENTAL perceptual audio dedup — the NINTH incremental-family
    * member, closing the perceptual modality triangle's incremental
    * coverage (image and video have theirs): yesterday's clips persist as
    * a band-bucketed envelope-hash store through the real write path, a
    * batch pays its own PCM decode + envelope hash plus the in-place
    * band probe — history audio is never re-decoded. Probe machinery and
    * keep rule are [[ImageDedup.incrementalDropped]] VERBATIM (an
    * envelope hash is the same four-band shape), the oracle the SAME
    * incremental SQL tail over this fixture's fp replay. */
  val incremental: QueryDef = media.incremental("dedup_incremental_audio")

  val all: Seq[QueryDef] = Seq(query, incremental)
}
