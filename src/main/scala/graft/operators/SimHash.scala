package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** SimHash document fingerprinting: each distinct token contributes ±1 to
  * [[Bits]] bit-position counters (sign chosen by the token's hash bit); the
  * sign of each counter becomes one bit of the fingerprint. Near-identical
  * token sets → near-identical fingerprints (small Hamming distance).
  *
  * HASH KEYING (round 17): the per-token hash is the first 15 hex digits of
  * md5(token) — a 60-bit integer both engines parse identically — so the
  * ENTIRE chain (vote sums, bit assembly, band bucketing, Hamming verify)
  * is DuckDB-replayable at value level and both queries carry full oracles;
  * the former engine-native xxhash64 keying left them in the no-oracle set
  * on specs alone (r16 verdict item 3; the `approx_topk_cms` md5-re-key
  * pattern). 60 bits, not 64: the oracle parses the hex via an exact
  * digit-weighted sum, and a 16th digit could carry into the BIGINT sign
  * bit — DuckDB errors on signed overflow where Spark's `conv` wraps, so
  * the twin constructions would diverge exactly where it's least visible.
  * Nothing the algorithm cares about changes: 60 bit-position voters vs 64
  * is the same similarity-preservation construction, and the Manku banding
  * stays exact (60 = 4 bands × 15 bits at maxDist 3).
  *
  * Plan shape: explode → [[Bits]]-column conditional-sum aggregation
  * (map-side partial agg, codegen'd) → bit assembly. Group-level output
  * (fingerprint, member count, representative) keeps the result bounded
  * even when many documents collide.
  */
object SimHash {

  val Bits = 60

  /** Per-token 60-bit hash — the md5-hex prefix parse, one formula rendered
    * into either dialect (the [[graft.operators.QualityClassifier.ml2]]
    * builder discipline). */
  private def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  private val tokenHashSql: String =
    "list_sum(list_transform(generate_series(1, 15), " +
      "k -> CAST(strpos('0123456789abcdef', substr(h, k, 1)) - 1 AS BIGINT) * (CAST(1 AS BIGINT) << ((15-k)*4))))"

  /** doc_id → [[Bits]]-bit simhash of its distinct-token set. Zero-sum bit
    * votes resolve to 0 (the exact `> 0` rule the oracle mirrors). */
  def fingerprints(docs: DataFrame): DataFrame = {
    val tok = Tables.fanOut(docs)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      .withColumn("h", tokenHash(col("t")))
    val sums = (0 until Bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    val bitCols = (0 until Bits).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    tok.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bitCols.reduce(_ + _).as("simhash"))
  }

  /** The fingerprint construction as DuckDB CTEs ending in
    * `fp(doc_id, simhash)` — shared verbatim by both oracles so the two
    * queries' replays cannot drift from each other. MATERIALIZED: the
    * near-dup oracle reads `fp` through a self-joined band CTE, and DuckDB
    * inlines CTEs by default (the `bpe_segment_trained` open-files lesson,
    * mild form). */
  private val fingerprintCtes: String = {
    val sums = (0 until Bits).map(j =>
      s"SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val bits = (0 until Bits).map(j =>
      s"(CASE WHEN b$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |            FROM documents),
      |hv AS (SELECT doc_id, $tokenHashSql AS hv
      |       FROM (SELECT doc_id, md5(t) AS h FROM tok)),
      |votes AS MATERIALIZED (SELECT doc_id, $sums FROM hv GROUP BY doc_id),
      |fp AS MATERIALIZED (SELECT doc_id, $bits AS simhash FROM votes)""".stripMargin
  }

  /** Grouped fingerprint output: one row per distinct simhash. */
  val query: QueryDef = QueryDef.sql(
    "dedup_simhash",
    s"""$fingerprintCtes
      |SELECT simhash, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM fp GROUP BY simhash ORDER BY keep_id""".stripMargin) { (s, d) =>
    fingerprints(Tables.documents(s, d))
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("keep_id")
  }

  /** Near-dup pairs at Hamming distance ≤ `maxDist`, via band-partitioned
    * candidate generation: split the [[Bits]]-bit fingerprint into
    * `maxDist + 1` equal bands — any pair within distance `maxDist` must
    * agree exactly on at least one band (pigeonhole), so the quadratic
    * all-pairs comparison collapses to per-band bucket joins, then
    * `bit_count(a XOR b)` verifies the exact distance. The standard
    * web-scale simhash dedup layout (Manku et al., WWW'07). */
  def nearDuplicates(fpsIn: DataFrame, maxDist: Int = 3,
      fpBound: Long = -1L): DataFrame = {
    // both sides of the band self-join read the fingerprint table — without
    // materialization the Bits-column aggregation runs twice
    val fps = Tables.materialize(fpsIn)
    val bands = maxDist + 1
    require(Bits % bands == 0, s"$Bits bits must split evenly into $bands bands")
    val width = Bits / bands
    val banded = fps.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b => struct(
        lit(b).as("band"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // |banded| = bands × |fps| ≤ bands × fpBound when the caller supplies
    // a bound (e.g. the raw document count, a zero-column metadata scan);
    // without one (-1) the gate probes. Under the cap the bucket join
    // ships the ~32-byte band rows (~0.5 s under the shuffle at bench scale)
    val gatedBanded = Tables.boundedBroadcast(banded,
      Tables.satMul(fpBound, bands), Similarity.MaxBroadcastBandRows)
    banded.as("a")
      .join(gatedBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("d1", "d2")
      .orderBy("d1", "d2")
  }

  /** Near-dup query at the default maxDist 3 (4 bands × 15 bits). The
    * oracle replays the SAME banded candidate generation, not an all-pairs
    * scan — the pigeonhole completeness argument is thereby asserted on
    * both engines (and ApproxSpec pins band-join ≡ brute force once more,
    * from the property side). */
  val nearDupQuery: QueryDef = QueryDef.sql(
    "dedup_simhash_neardup", {
      val bands = 4
      val width = Bits / bands
      val mask = (1L << width) - 1
      s"""$fingerprintCtes,
      |banded AS MATERIALIZED (
      |  SELECT doc_id, simhash, g.b AS band, (simhash >> (g.b * $width)) & $mask AS bh
      |  FROM fp, unnest(generate_series(0, ${bands - 1})) AS g(b)),
      |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |          FROM banded a JOIN banded b
      |            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      |SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3 ORDER BY d1, d2""".stripMargin
    }) { (s, d) =>
    // the raw document count (zero-column metadata scan) bounds the
    // fingerprint table — one row per doc — so the band-join broadcast
    // gate needs no limit+count over the fingerprint lineage (r21)
    nearDuplicates(fingerprints(Tables.documents(s, d)),
      fpBound = Tables.documents(s, d).count())
  }

  val all: Seq[QueryDef] = Seq(query, nearDupQuery)
}
