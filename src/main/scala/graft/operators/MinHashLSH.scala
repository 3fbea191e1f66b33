package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** MinHash + banded LSH near-duplicate detection:
  * shingle → 64 minhashes → 16 bands × 4 rows → bucket join → exact-Jaccard
  * verification of candidates.
  *
  * This is the scale path for [[Dedup.shingleJaccard]]: the inverted-index
  * join there generates every shingle-sharing pair; LSH only surfaces pairs
  * likely above the similarity threshold (P[band collision] = s^4 per band),
  * so pair generation is proportional to the number of true near-dups, not
  * to shingle co-occurrence. Uses engine-native xxhash64 (codegen'd) — no
  * DuckDB oracle; DedupSpec verifies candidates ⊇ high-Jaccard pairs and
  * that the verified output equals the exact computation on the candidates.
  */
object MinHashLSH {

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands
  val Threshold = 0.5

  /** Counted broadcast cap for the exploded shingle posting stream
    * ([[Tables.countedBroadcast]], r19 cliff discipline): ~60-byte rows
    * (doc_id + trigram string) — 10M ≈ 600 MB shipped, under the hard cap
    * with headroom; past it the verification joins pin shuffle_hash. */
  val MaxBroadcastPostingRows = 10000000L


  /** doc_id, s (distinct word-3-gram shingle), sid (64-bit shingle hash). */
  private def shingleIds(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    Tables.fanOut(docs)
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ",
          element_at(col("w"), i),
          element_at(col("w"), i + 1),
          element_at(col("w"), i + 2))))).as("s"))
      .withColumn("sid", xxhash64(col("s")))
  }

  /** doc_id, sids — the doc's distinct shingle-id SET as one array column,
    * never exploded: the representation the native-signature path works on
    * (and the source the verification join derives its exploded form from —
    * explode is narrow, so nothing here shuffles). */
  private[graft] def shingleIdArrays(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    Tables.fanOut(docs)
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), transform(array_distinct(transform(
        sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ",
          element_at(col("w"), i),
          element_at(col("w"), i + 1),
          element_at(col("w"), i + 2)))),
        s => xxhash64(s)).as("sids"))
  }

  /** Signatures via the native [[graft.functions.MinHashSig]] expression:
    * one codegen'd projection per row, NO exchange — signature build is
    * scan-local at any scale. Output schema (doc_id, h0..h63) matches the
    * aggregate twin [[signaturesAgg]] bit for bit (MinHashSigSpec). */
  def signatures(docs: DataFrame): DataFrame =
    signaturesFromArrays(shingleIdArrays(docs))

  private def signaturesFromArrays(arrays: DataFrame): DataFrame = {
    val sig = graft.functions.MinHashSig.minHashSig(col("sids"), NumHashes)
    arrays.select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** The composable aggregation twin (explode → 64 min aggregates with
    * map-side partials — one exchange): retained as the differential
    * reference the native expression is pinned against. Hash family member
    * i = xxhash64(i, shingleId): independent, seeded, codegen'd, and free
    * of ANSI-mode overflow (vs. multiplicative mixing). */
  private[graft] def signaturesAgg(docs: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map { i =>
      min(xxhash64(lit(i), col("sid")).bitwiseAND(lit(Long.MaxValue))).as(s"h$i")
    }
    shingleIds(docs).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** doc_id, band, bh — one row per band, bh = hash of that band's slice. */
  def bandHashes(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { bnd =>
      val slice = (0 until RowsPerBand).map(r => col(s"h${bnd * RowsPerBand + r}"))
      struct(lit(bnd).as("band"), xxhash64(slice: _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Candidate pairs: docs sharing any band hash (deduplicated). */
  def candidates(docs: DataFrame): DataFrame =
    candidatesFromArrays(shingleIdArrays(docs))

  private def candidatesFromArrays(arrays: DataFrame): DataFrame = {
    val bh = bandHashes(signaturesFromArrays(arrays))
    // shuffle_hash pin (r19 broadcast-cliff discipline, made a standing
    // gate by BroadcastGeneratorGateSpec): both sides of the bucket
    // self-join are the band-EXPLODED signature table — corpus-scale at
    // 100 TB, with a generator-suppressed size estimate that invites a
    // driver broadcast exactly when memory is scarcest. Executor-side
    // hash build on the bucket key is the right plan at every scale.
    bh.as("a")
      .join(bh.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Full pipeline: LSH candidates → exact shingle-Jaccard verification.
    * The per-doc shingle ARRAY table feeds every consumer — signatures
    * (native projection), cardinalities (size(sids), a projection: the
    * array is already distinct — no count groupBy), and the exploded
    * verification join (explode is narrow) — so it is materialized once, as
    * a production pipeline would stage it. The only exchanges left in the
    * whole pipeline are the band-bucket self-join and the candidate
    * intersection count. */
  /** (tkey-grouped) verbatim-copy collapse shared by both LSH pipelines:
    * groups keyed by md5(text) — computed in the scan, so group discovery
    * shuffles 16-byte keys, never shingle arrays — with the earliest doc
    * as representative. Docs with identical TEXT have identical shingle
    * sets, signatures, and bands, so running the expensive stages on
    * representatives and re-expanding by membership is value-identical;
    * differently-ordered near-identical texts simply aren't collapsed
    * (an optimization miss, not an error). */
  private def textGroups(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val keyed = docs.select(col("doc_id"), col("text"), md5(col("text")).as("tkey"))
    val groups = Tables.materialize(keyed.groupBy(col("tkey"))
      .agg(min(col("doc_id")).as("gid")))
    val members = keyed.select(col("tkey"), col("doc_id"))
      .join(groups, Seq("tkey")).select(col("gid"), col("doc_id"))
    val repDocs = docs.join(groups.select(col("gid").as("doc_id")),
      Seq("doc_id"), "left_semi")
    (groups, members, repDocs)
  }

  def nearDuplicates(docs: DataFrame, threshold: Double = Threshold): DataFrame = {
    // VERBATIM-COPY collapse (the round-12 signature-grid discipline, here
    // for the pairwise-OUTPUT operator): re-crawled copies share one text,
    // so shingling, banding, candidate generation, and the exact Jaccard
    // verification all run ONCE per distinct text — a 10-copy group stops
    // costing 45 intersection jobs. The inherently pairwise output is
    // recovered by membership joins: same text ⇒ same signature ⇒ same
    // bands, within-group Jaccard is exactly 1.0 (identical non-empty
    // sets), and a cross-group rep pair sees the identical (i, n₁, n₂)
    // integers every member pair would — the emitted pair list is
    // value-identical to doc-level verification.
    val (_, members, repDocs) = textGroups(docs)
    val arrays = Tables.materialize(shingleIdArrays(repDocs))
    val sh = arrays.select(col("doc_id"), explode(col("sids")).as("sid"))
    val card = arrays.select(col("doc_id"), size(col("sids")).cast("long").as("n"))
    val cand = candidatesFromArrays(arrays)
    // shuffle_hash: the exploded shingle posting stream is corpus-scale
    // and generator-fed — never estimator-broadcast (r19 discipline)
    val inter = cand
      .join(sh.as("sa").hint("shuffle_hash"), col("sa.doc_id") === col("d1"))
      .join(sh.as("sb").hint("shuffle_hash"),
        col("sb.doc_id") === col("d2") && col("sa.sid") === col("sb.sid"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") / (col("ca.n") + col("cb.n") - col("i"))
    val repPairs = inter
      .join(card.as("ca"), col("ca.doc_id") === col("d1"))
      .join(card.as("cb"), col("cb.doc_id") === col("d2"))
      .select(col("d1").as("g1"), col("d2").as("g2"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val cross = repPairs
      .join(members.as("ma"), col("ma.gid") === col("g1"))
      .join(members.as("mb"), col("mb.gid") === col("g2"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("d1"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("d2"),
        col("jaccard"))
    // groups whose rep was too short to shingle emit nothing (the doc
    // pipeline filtered such docs before pairing)
    val within = members.as("x")
      .join(arrays.select(col("doc_id").as("gid")), Seq("gid"), "left_semi")
      .join(members.as("y"),
        col("x.gid") === col("y.gid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Count of agreeing signature lanes between two prefixed signature row
    * halves — the MinHash estimate of Jaccard is lanes/NumHashes. */
  private def agreeingLanes(aPrefix: String, bPrefix: String): Column =
    (0 until NumHashes).map(i =>
      when(col(s"$aPrefix$i") === col(s"$bPrefix$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Incremental cross-snapshot near-dup dedup against a SIGNATURE store —
    * [[graft.operators.Dedup.dedupIncrementalJaccardOn]]'s constant-space
    * sibling: the store holds 64 minhash lanes + 16 band rows per document
    * (~640 B/doc, independent of document length) instead of the full
    * df-capped shingle postings (~24 B × shingles/doc). The price is the
    * keep rule: similarity is the MinHash ESTIMATE (agreeing lanes / 64,
    * σ ≈ 0.06 at J = 0.5) rather than exact Jaccard — the right trade when
    * the corpus is too large to store postings for, and the reason both
    * operators exist.
    *
    * Movement contract: batch signatures are a scan-local projection
    * ([[graft.functions.MinHashSig]]); the band store (bucketed by `bh`) and
    * the signature store (bucketed by `doc_id`) are both joined in place;
    * everything that shuffles is O(batch + candidates). Keep rule mirrors
    * the exact sibling: drop if an estimated near-dup exists in history or
    * earlier in the batch. */
  def dedupIncrementalMinHashOn(newDocs: DataFrame, sigStore: DataFrame,
      bandStore: DataFrame, threshold: Double = Threshold): DataFrame = {
    val minLanes = math.ceil(threshold * NumHashes).toInt
    val bsigs = Tables.materialize(signatures(newDocs))
    val bband = bandHashes(bsigs)
    val bPref = bsigs.select(
      col("doc_id") +: (0 until NumHashes).map(i => col(s"h$i").as(s"bh_$i")): _*)
    // history: candidates from the in-place band-bucket join, lane-verified
    // against the in-place signature store
    // shuffle_hash pins: same generator-suppressed-estimate discipline as
    // the md5 twin below
    val candH = bband.hint("shuffle_hash")
      .join(bandStore.select(col("band"), col("bh"), col("doc_id").as("hid")),
        Seq("band", "bh"))
      .select(col("doc_id"), col("hid")).distinct()
    val hPref = sigStore.select(
      col("doc_id").as("hid") +: (0 until NumHashes).map(i => col(s"h$i").as(s"hh_$i")): _*)
    val histMatched = candH
      .join(hPref, Seq("hid"))
      .join(bPref, Seq("doc_id"))
      .filter(agreeingLanes("bh_", "hh_") >= minLanes)
      .select(col("doc_id"))
    // within batch: band self-join, keep-first semantics
    val candB = bband.as("a")
      .join(bband.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    val batchMatched = candB
      .join(bPref.toDF("d1" +: (0 until NumHashes).map(i => s"ah_$i"): _*), Seq("d1"))
      .join(bPref.toDF("d2" +: (0 until NumHashes).map(i => s"bh_$i"): _*), Seq("d2"))
      .filter(agreeingLanes("ah_", "bh_") >= minLanes)
      .select(col("d2").as("doc_id"))
    // one distinct over the union, one anti join (the Dedup incremental
    // twins' r21 restructure — identical set-union keep rule)
    val matched = histMatched.unionByName(batchMatched).distinct()
    newDocs.select(col("doc_id"))
      .join(matched.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Spec-only since round 18 (not registered — see [[all]]): same
    * doc_id % 10 history/batch split as the exact siblings; signature +
    * band stores genuinely persisted and reloaded. Engine-native hashing →
    * no DuckDB oracle; IncrementalMinHashSpec pins the keep rule and the
    * agreement with the exact-Jaccard sibling. The registered, oracled
    * surface is [[incrementalMinHashMd5]]. */
  val incrementalMinHash: QueryDef = QueryDef.noOracle("dedup_incremental_minhash") { (s, d) =>
    val docs = Tables.documents(s, d)
    val sigT = s"graft_sig_store_${Dedup.dirKey(d)}"
    val bandT = s"graft_band_store_${Dedup.dirKey(d)}"
    val sigStore = graft.sources.ParquetSink.tableOrBuild(s, sigT) {
      val sigs = signatures(docs.filter(col("doc_id") % 10 < 8))
      graft.sources.ParquetSink.writeBucketed(
        bandHashes(sigs), bandT, "bh", Dedup.storeBuckets(s))
      graft.sources.ParquetSink.writeBucketed(
        sigs, sigT, "doc_id", Dedup.storeBuckets(s))
    }
    dedupIncrementalMinHashOn(
      docs.filter(col("doc_id") % 10 >= 8), sigStore, s.table(bandT))
  }

  /** md5-keyed MinHash-LSH twin, fully DuckDB-oracled — the move that took
    * the sign-bit LSH family out of the no_oracle set, applied to MinHash
    * banding: the production path ([[nearDuplicates]]) stays on engine-native
    * xxhash64 (the codegen'd [[graft.functions.MinHashSig]] projection —
    * ~ns/hash, irreducibly engine-native), while this twin re-keys the
    * SAME algorithm on md5 so DuckDB replays every stage — per-lane
    * min-over-shingles signatures (lexicographic min of md5 hex strings is
    * a valid min-hash: uniform order), band hashes, the bucket self-join,
    * and the exact-Jaccard verification. What the oracle pins is the
    * BANDING PIPELINE itself (signature → band → candidates → verify) at
    * value level; the native path's own spec pins it bit-identical to its
    * aggregate form and recall-equal to exact Jaccard. 8 lanes = 4 bands ×
    * 2 rows (vs the native 64/16/4): md5 is ~100× costlier per hash than
    * xxhash64, so the twin runs the small-signature regime — candidate
    * P = 1−(1−s²)⁴, a different point on the same s-curve family (the
    * oracle replays whichever curve the engine runs, so the banding
    * approximation is pinned AS SPECIFIED, not asserted lossless; exact
    * verification discards all false positives on both sides). */
  val Md5Lanes = 8
  val Md5Bands = 4
  val Md5RowsPerBand: Int = Md5Lanes / Md5Bands

  val queryMd5: QueryDef = QueryDef.sql(
    "dedup_minhash_lsh_md5",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |arr AS (SELECT doc_id, list_distinct(list_transform(
      |          generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM toks WHERE len(w) >= 3),
      |sig AS (SELECT doc_id, list_transform(generate_series(0, ${Md5Lanes - 1}),
      |          k -> list_min(list_transform(sh, s -> md5(k || ':' || s)))) AS sig
      |        FROM arr),
      |bands AS (SELECT doc_id, b.band,
      |            md5(sig[band*${Md5RowsPerBand}+1] || '|' || sig[band*${Md5RowsPerBand}+2]) AS bh
      |          FROM sig, (SELECT unnest(range(${Md5Bands})) AS band) b),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sh AS (SELECT doc_id, unnest(sh) AS s FROM arr),
      |card AS (SELECT doc_id, len(sh) AS n FROM arr),
      |inter AS (SELECT d1, d2, COUNT(*) AS i FROM cand
      |          JOIN sh sa ON sa.doc_id = d1
      |          JOIN sh sb ON sb.doc_id = d2 AND sa.s = sb.s
      |          GROUP BY d1, d2)
      |SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter JOIN card ca ON ca.doc_id = d1 JOIN card cb ON cb.doc_id = d2
      |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $Threshold
      |ORDER BY d1, d2""".stripMargin) { (s, d) =>
    val w = split(col("text"), " ")
    // VERBATIM-COPY collapse, exactly as [[nearDuplicates]]: only the
    // per-distinct-text representatives are ever shingled, so the md5
    // signature build (the twin's dominant cost — ~8 md5 per shingle) and
    // the verification intersections run once per distinct text; the pair
    // output is recovered by membership joins, value-identical (within-
    // group Jaccard is exactly 1.0, rounded to 1.0; the oracle's
    // doc-level replay agrees because same text ⇒ same bands and the
    // same (i, n₁, n₂) integers).
    // ONE zero-column metadata count bounds every gated side below:
    // |members| = nDocs exactly, |repArrays| ≤ nDocs, |bands| ≤
    // Md5Bands × nDocs — so those gates need no limit+count job over
    // derived lineage at construction time (r21 bounded-gate form)
    val nDocs = Tables.documents(s, d).count()
    val (_, members, repDocs) = textGroups(Tables.documents(s, d))
    val repArrays = Tables.materialize(
      Tables.fanOut(repDocs)
        .select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), array_distinct(transform(
          sequence(lit(1), size(col("w")) - 2),
          i => concat_ws(" ",
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2)))).as("sh")))
    // codegen'd fused signature loop (r19) — the nested HOF form ran
    // INTERPRETED at lanes × shingles md5 calls; bit-identical by
    // Md5MinLanesSpec
    val sig = repArrays.select(col("doc_id"),
      graft.functions.Md5MinLanes.md5MinLanes(col("sh"), Md5Lanes).as("sig"))
    // MATERIALIZED (r20): the band table feeds the counted gate's probe
    // AND both sides of the bucket self-join — uncached, the md5 signature
    // build (the twin's dominant cost) ran once per consumer; cached, the
    // gate's limit+count pre-populates what the join sides read
    val bands = Tables.materialize(
      sig.select(col("doc_id"), explode(transform(
          sequence(lit(0), lit(Md5Bands - 1)),
          b => struct(b.as("band"),
            md5(concat_ws("|",
              slice(col("sig"), b * lit(Md5RowsPerBand) + lit(1), lit(Md5RowsPerBand))))
              .as("bh")))).as("p"))
        .select(col("doc_id"), col("p.band").as("band"), col("p.bh").as("bh")))
    // gated broadcasts (r19 cliff discipline): the band table and the
    // shingle posting stream are both generator-fed, corpus-scale sides
    // with suppressed estimates — the band side is proven under its cap
    // by the nDocs bound (r21), the posting stream (no static bound: the
    // per-doc shingle count is data-dependent) by one real limit+count
    // shared by both posting joins; past a cap, shuffle_hash
    val cand = bands.as("a")
      .join(Tables.boundedBroadcast(bands, Similarity.satMul(nDocs, Md5Bands),
        Similarity.MaxBroadcastBandRows).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val shx = Tables.countedBroadcast(
      repArrays.select(col("doc_id"), explode(col("sh")).as("s")),
      MaxBroadcastPostingRows)
    val card = repArrays.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val inter = cand
      .join(shx.as("sa"), col("sa.doc_id") === col("d1"))
      .join(shx.as("sb"),
        col("sb.doc_id") === col("d2") && col("sa.s") === col("sb.s"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") / (col("ca.n") + col("cb.n") - col("i"))
    val repPairs = inter
      .join(card.as("ca"), col("ca.doc_id") === col("d1"))
      .join(card.as("cb"), col("cb.doc_id") === col("d2"))
      .filter(jac >= Threshold)
      .select(col("d1").as("g1"), col("d2").as("g2"), round(jac, 6).as("jaccard"))
    // membership-expansion joins: |members| = nDocs exactly, so the gated
    // broadcast is proven safe by the same metadata count — the r20 plan
    // sort-merge-joined these (estimator saw a join output, not a bounded
    // table), paying two Sort+Exchange pairs on the rep-pair stream
    val mGated = Tables.boundedBroadcast(members, nDocs,
      Similarity.MaxBroadcastMemberRows)
    val cross = repPairs
      .join(mGated.as("ma"), col("ma.gid") === col("g1"))
      .join(mGated.as("mb"), col("mb.gid") === col("g2"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("d1"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("d2"),
        col("jaccard"))
    val within = members.as("x")
      .join(Tables.boundedBroadcast(repArrays.select(col("doc_id").as("gid")),
        nDocs, Similarity.MaxBroadcastMemberRows), Seq("gid"), "left_semi")
      .join(mGated.as("y"),
        col("x.gid") === col("y.gid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy("d1", "d2")
  }

  /** md5-keyed 8-lane signatures as ONE array column — the twin's store
    * payload ([[queryMd5]] builds the same values inline; this factoring
    * exists so the incremental twin persists/reloads them). Docs under 3
    * words have no shingles and no signature — they can never match and
    * are always kept, same as every sibling. */
  private def md5Signatures(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    Tables.fanOut(docs)
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ",
          element_at(col("w"), i),
          element_at(col("w"), i + 1),
          element_at(col("w"), i + 2)))).as("sh"))
      // codegen'd fused signature loop (r19, see queryMd5's site)
      .select(col("doc_id"),
        graft.functions.Md5MinLanes.md5MinLanes(col("sh"), Md5Lanes).as("sig"))
  }

  private def md5Bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(transform(
        sequence(lit(0), lit(Md5Bands - 1)),
        b => struct(b.as("band"),
          md5(concat_ws("|",
            slice(col("sig"), b * lit(Md5RowsPerBand) + lit(1), lit(Md5RowsPerBand))))
            .as("bh")))).as("p"))
      .select(col("doc_id"), col("p.band").as("band"), col("p.bh").as("bh"))

  /** Lanes of agreement between two signature arrays — the array-column
    * analogue of [[agreeingLanes]] (which reads 64 flattened columns). */
  private def agreeingSigLanes(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** md5-keyed INCREMENTAL MinHash twin — the round-9 verdict's last
    * un-oracled LSH family member, closed with the proven md5-twin recipe:
    * the SAME store shape as [[incrementalMinHash]] (signature store
    * bucketed by doc_id, band store bucketed by bh, both persisted once
    * and joined in place; per-day cost O(batch + candidates)), re-keyed on
    * md5 so DuckDB replays every stage from the raw corpus — history
    * store derivation included, which is sound because the store build is
    * a deterministic function of the history split. Keep rule and 80/20
    * doc_id%10 split are verbatim from the exact siblings; 8 lanes → the
    * lane-agreement threshold is ceil(0.5·8) = 4 of 8. The xxhash64
    * [[incrementalMinHash]] stays the production path (IncrementalMinHashSpec
    * pins its keep rule); this twin pins the PIPELINE value-level. */
  val incrementalMinHashMd5: QueryDef = QueryDef.sql(
    "dedup_incremental_minhash_md5",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |arr AS (SELECT doc_id, list_distinct(list_transform(
      |          generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM toks WHERE len(w) >= 3),
      |sig AS (SELECT doc_id, list_transform(generate_series(0, ${Md5Lanes - 1}),
      |          k -> list_min(list_transform(sh, s -> md5(k || ':' || s)))) AS sig
      |        FROM arr),
      |bands AS (SELECT doc_id, b.band,
      |            md5(sig[band*${Md5RowsPerBand}+1] || '|' || sig[band*${Md5RowsPerBand}+2]) AS bh
      |          FROM sig, (SELECT unnest(range(${Md5Bands})) AS band) b),
      |hb AS (SELECT * FROM bands WHERE doc_id % 10 < 8),
      |nb AS (SELECT * FROM bands WHERE doc_id % 10 >= 8),
      |candh AS (SELECT DISTINCT nb.doc_id AS bid, hb.doc_id AS hid
      |          FROM nb JOIN hb ON nb.band = hb.band AND nb.bh = hb.bh),
      |histm AS (SELECT DISTINCT c.bid AS doc_id
      |          FROM candh c JOIN sig sn ON sn.doc_id = c.bid
      |                       JOIN sig sh2 ON sh2.doc_id = c.hid
      |          WHERE len(list_filter(generate_series(1, ${Md5Lanes}),
      |                  i -> sn.sig[i] = sh2.sig[i])) >= ${md5MinLanes}),
      |candb AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |          FROM nb a JOIN nb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |batchm AS (SELECT DISTINCT c.d2 AS doc_id
      |           FROM candb c JOIN sig s1 ON s1.doc_id = c.d1
      |                        JOIN sig s2 ON s2.doc_id = c.d2
      |           WHERE len(list_filter(generate_series(1, ${Md5Lanes}),
      |                   i -> s1.sig[i] = s2.sig[i])) >= ${md5MinLanes})
      |SELECT doc_id FROM documents
      |WHERE doc_id % 10 >= 8
      |  AND doc_id NOT IN (SELECT doc_id FROM histm)
      |  AND doc_id NOT IN (SELECT doc_id FROM batchm)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sigT = s"graft_sig_md5_store_${Dedup.dirKey(d)}"
    val bandT = s"graft_band_md5_store_${Dedup.dirKey(d)}"
    val sigStore = graft.sources.ParquetSink.tableOrBuild(s, sigT) {
      val hs = md5Signatures(docs.filter(col("doc_id") % 10 < 8))
      graft.sources.ParquetSink.writeBucketed(
        md5Bands(hs), bandT, "bh", Dedup.storeBuckets(s))
      graft.sources.ParquetSink.writeBucketed(
        hs, sigT, "doc_id", Dedup.storeBuckets(s))
    }
    val bandStore = s.table(bandT)
    val newDocs = docs.filter(col("doc_id") % 10 >= 8)
    val bsigs = Tables.materialize(md5Signatures(newDocs))
    val bband = md5Bands(bsigs)
    // counted bound on the RAW batch doc count (cheap scan — counting the
    // band explode itself would re-run the md5 signature build): batch
    // band rows are ≤ Md5Bands × batch docs, so under the cap every
    // probe-side table keeps the broadcast plan a day's batch deserves;
    // past it the joins pin shuffle_hash instead of trusting the
    // generator-suppressed estimate (r19 cliff discipline)
    val bounded = newDocs
      .limit((graft.operators.ImageDedup.MaxBroadcastProbeDocs + 1).toInt)
      .count() <= graft.operators.ImageDedup.MaxBroadcastProbeDocs
    def gated(df: DataFrame): DataFrame =
      if (bounded) broadcast(df) else df.hint("shuffle_hash")
    val candH = gated(bband)
      .join(bandStore.select(col("band"), col("bh"), col("doc_id").as("hid")),
        Seq("band", "bh"))
      .select(col("doc_id"), col("hid")).distinct()
    val histMatched = candH
      .join(sigStore.select(col("doc_id").as("hid"), col("sig").as("hsig")), Seq("hid"))
      .join(bsigs.select(col("doc_id"), col("sig").as("bsig")), Seq("doc_id"))
      .filter(agreeingSigLanes(col("bsig"), col("hsig")) >= md5MinLanes)
      .select(col("doc_id"))
    // within batch: band self-join, keep-first semantics
    val candB = bband.as("a")
      .join(gated(bband).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    val batchMatched = candB
      .join(bsigs.select(col("doc_id").as("d1"), col("sig").as("s1")), Seq("d1"))
      .join(bsigs.select(col("doc_id").as("d2"), col("sig").as("s2")), Seq("d2"))
      .filter(agreeingSigLanes(col("s1"), col("s2")) >= md5MinLanes)
      .select(col("d2").as("doc_id"))
    // one distinct over the union, one anti join (the Dedup incremental
    // twins' r21 restructure); the union stays behind the same counted
    // broadcast gate both sides rode individually
    val matched = histMatched.unionByName(batchMatched).distinct()
    newDocs.select(col("doc_id"))
      .join(gated(matched), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** ceil(Threshold · Md5Lanes) lanes must agree — same rule as the 64-lane
    * production path, scaled to the twin's signature width. */
  def md5MinLanes: Int = math.ceil(Threshold * Md5Lanes).toInt

  /** Registry surface (round 18): the fully-DuckDB-oracled md5-keyed forms
    * ONLY — the xxhash64 [[nearDuplicates]]/[[incrementalMinHash]] stay
    * the documented production path and remain spec-verified internals
    * (TrainingOpsSpec LSH ≡ exact, IncrementalMinHashSpec keep rule +
    * exact-sibling agreement), but as registry rows they carried no oracle
    * and duplicated the twins' pipeline coverage — the same fold that took
    * `dedup_simhash_md5` out of the registry in round 17 (r17 verdict
    * item 2; no-oracle set 5 → 3). */
  val all: Seq[QueryDef] = Seq(queryMd5, incrementalMinHashMd5)
}
