package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** MinHash + banded LSH near-duplicate detection, md5-keyed so DuckDB
  * replays every stage: word-3-gram shingles → 8 md5 min-hash lanes →
  * 4 bands × 2 rows → bucket join → verification of candidates.
  *
  * This is the scale path for [[Dedup.shingleJaccard]]: the inverted-index
  * join there generates every shingle-sharing pair; LSH only surfaces pairs
  * likely above the similarity threshold (candidate P = 1−(1−s²)⁴), so pair
  * generation is proportional to the number of true near-dups, not to
  * shingle co-occurrence. Lane k of a signature is the lexicographic min of
  * md5(k || ":" || shingle) over the doc's shingles (a valid min-hash: md5
  * hex is uniformly ordered), built by the codegen'd
  * [[graft.functions.Md5MinLanes]] projection. The oracle pins the banding
  * approximation AS SPECIFIED, not as lossless; exact verification discards
  * every false positive on both sides.
  */
object MinHashLSH {

  val Threshold = 0.5

  /** Counted broadcast cap for the exploded shingle posting stream
    * ([[Tables.countedBroadcast]], r19 cliff discipline): ~60-byte rows
    * (doc_id + trigram string) — 10M ≈ 600 MB shipped, under the hard cap
    * with headroom; past it the verification joins pin shuffle_hash. */
  val MaxBroadcastPostingRows = 10000000L

  val Md5Lanes = 8
  val Md5Bands = 4
  val Md5RowsPerBand: Int = Md5Lanes / Md5Bands

  /** (doc_id, sh): each doc's distinct word-3-gram shingles as one array
    * column. Docs under 3 words have no shingles and no row — they can
    * never match and are always kept. */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame = {
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
  }

  /** (doc_id, sig): the 8-lane md5 signature of each [[shingleArrays]] row
    * as one array column — the codegen'd fused signature loop (r19; the
    * nested HOF form ran INTERPRETED at lanes × shingles md5 calls),
    * bit-identical by Md5MinLanesSpec. */
  private[graft] def md5Signatures(arrays: DataFrame): DataFrame =
    arrays.select(col("doc_id"),
      graft.functions.Md5MinLanes.md5MinLanes(col("sh"), Md5Lanes).as("sig"))

  /** (doc_id, band, bh): one row per band, bh = md5 of that band's lanes
    * joined by "|". */
  private[graft] def md5Bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(transform(
        sequence(lit(0), lit(Md5Bands - 1)),
        b => struct(b.as("band"),
          md5(concat_ws("|",
            slice(col("sig"), b * lit(Md5RowsPerBand) + lit(1), lit(Md5RowsPerBand))))
            .as("bh")))).as("p"))
      .select(col("doc_id"), col("p.band").as("band"), col("p.bh").as("bh"))

  /** (tkey-grouped) verbatim-copy collapse: groups keyed by md5(text) —
    * computed in the scan, so group discovery shuffles 16-byte keys, never
    * shingle arrays — with the earliest doc as representative. Docs with
    * identical TEXT have identical shingle sets, signatures, and bands, so
    * running the expensive stages on representatives and re-expanding by
    * membership is value-identical; differently-ordered near-identical
    * texts simply aren't collapsed (an optimization miss, not an error).
    * Returns (members: (gid, doc_id) of every doc, the representatives'
    * rows of `docs`). */
  private def textGroups(docs: DataFrame): (DataFrame, DataFrame) = {
    val keyed = docs.select(col("doc_id"), col("text"), md5(col("text")).as("tkey"))
    val groups = Tables.materialize(keyed.groupBy(col("tkey"))
      .agg(min(col("doc_id")).as("gid")))
    val members = keyed.select(col("tkey"), col("doc_id"))
      .join(groups, Seq("tkey")).select(col("gid"), col("doc_id"))
    val repDocs = docs.join(groups.select(col("gid").as("doc_id")),
      Seq("doc_id"), "left_semi")
    (members, repDocs)
  }

  /** Oracle CTEs `arr(doc_id, sh)` (word 3-gram shingle arrays), `sig`
    * and `bands(doc_id, band, bh)`: the replay of [[md5Signatures]] and
    * [[md5Bands]]. */
  private val md5BandsCtes: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |arr AS (SELECT doc_id, list_distinct(list_transform(
      |          generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM toks WHERE len(w) >= 3),
      |sig AS (SELECT doc_id, list_transform(generate_series(0, ${Md5Lanes - 1}),
      |          k -> list_min(list_transform(sh, s -> md5(k || ':' || s)))) AS sig
      |        FROM arr),
      |bands AS (SELECT doc_id, b.band,
      |            md5(sig[band*${Md5RowsPerBand}+1] || '|' || sig[band*${Md5RowsPerBand}+2]) AS bh
      |          FROM sig, (SELECT unnest(range(${Md5Bands})) AS band) b)""".stripMargin

  val queryMd5: QueryDef = QueryDef.sql(
    "dedup_minhash_lsh_md5",
    s"""WITH $md5BandsCtes,
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
    // VERBATIM-COPY collapse: only the per-distinct-text representatives
    // are ever shingled, so the md5 signature build (the dominant cost —
    // ~8 md5 per shingle) and the verification intersections run once per
    // distinct text; the pair output is recovered by membership joins,
    // value-identical (within-group Jaccard is exactly 1.0, rounded to
    // 1.0; the oracle's doc-level replay agrees because same text ⇒ same
    // bands and the same (i, n₁, n₂) integers).
    // ONE zero-column metadata count bounds every gated side below:
    // |members| = nDocs exactly, |repArrays| ≤ nDocs, |bands| ≤
    // Md5Bands × nDocs — so those gates need no limit+count job over
    // derived lineage at construction time (r21 bounded-gate form)
    val nDocs = Tables.documents(s, d).count()
    val (members, repDocs) = textGroups(Tables.documents(s, d))
    val repArrays = Tables.materialize(shingleArrays(repDocs))
    // MATERIALIZED (r20): the band table feeds the counted gate's probe
    // AND both sides of the bucket self-join — uncached, the md5 signature
    // build (the dominant cost) ran once per consumer; cached, the gate's
    // limit+count pre-populates what the join sides read
    val bands = Tables.materialize(md5Bands(md5Signatures(repArrays)))
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

  /** Lanes of agreement between two signature arrays. */
  private def agreeingSigLanes(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** Incremental cross-snapshot near-dup dedup against a SIGNATURE store —
    * [[graft.operators.Dedup.dedupIncrementalJaccardOn]]'s constant-space
    * sibling: the store holds one 8-lane md5 signature (`sigStore`:
    * doc_id, sig) and [[Md5Bands]] band rows (`bandStore`: doc_id, band,
    * bh) per document, independent of document length, instead of the full
    * df-capped shingle postings. The price is the keep rule: similarity is
    * the MinHash ESTIMATE (agreeing lanes ≥ [[md5MinLanes]] of
    * [[Md5Lanes]]) rather than exact Jaccard. Drop a doc if an estimated
    * near-dup exists in history or earlier (smaller doc_id) in the batch;
    * docs under 3 words have no signature and are always kept. Returns
    * the surviving doc_ids, ordered.
    *
    * Movement contract: batch signatures are a scan-local projection; the
    * band store (bucketed by `bh`) and the signature store (bucketed by
    * `doc_id`) are both joined in place; everything that shuffles is
    * O(batch + candidates). The registered `dedup_incremental_minhash_md5`
    * runs this; the streaming `StreamingOps.ingestBatchNearDup` runs
    * [[dedupIncrementalMinHashSigs]], the same keep rule over batch
    * signatures it owns. */
  def dedupIncrementalMinHashOn(newDocs: DataFrame, sigStore: DataFrame,
      bandStore: DataFrame): DataFrame =
    dedupIncrementalMinHashSigs(newDocs,
      Tables.materialize(md5Signatures(shingleArrays(newDocs))), sigStore, bandStore)

  /** [[dedupIncrementalMinHashOn]] with the batch's (doc_id, sig) signatures
    * `bsigs` supplied by the caller, who persists them (they are read by
    * both the history and the within-batch probe) and releases them. */
  private[graft] def dedupIncrementalMinHashSigs(newDocs: DataFrame,
      bsigs: DataFrame, sigStore: DataFrame, bandStore: DataFrame): DataFrame = {
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

  /** md5-keyed INCREMENTAL MinHash, fully DuckDB-oracled: the doc_id % 10
    * history/batch split of the exact siblings, with signature store
    * (bucketed by doc_id) and band store (bucketed by bh) persisted once
    * and joined in place by [[dedupIncrementalMinHashOn]]; per-day cost
    * O(batch + candidates). DuckDB replays every stage from the raw
    * corpus — history store derivation included, which is sound because
    * the store build is a deterministic function of the history split.
    * 8 lanes → the lane-agreement threshold is ceil(0.5·8) = 4 of 8. */
  val incrementalMinHashMd5: QueryDef = QueryDef.sql(
    "dedup_incremental_minhash_md5",
    s"""WITH $md5BandsCtes,
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
    def store(tag: String, key: String)(build: => DataFrame): DataFrame =
      graft.sources.ModelStore.table(s, d, "documents.parquet", tag, Some(key))(build)
    val sigStore = store("sig_md5_store", "doc_id") {
      md5Signatures(shingleArrays(docs.filter(col("doc_id") % 10 < 8)))
    }
    dedupIncrementalMinHashOn(docs.filter(col("doc_id") % 10 >= 8), sigStore,
      store("band_md5_store", "bh")(md5Bands(sigStore)))
  }

  /** ceil(Threshold · Md5Lanes) lanes must agree. */
  def md5MinLanes: Int = math.ceil(Threshold * Md5Lanes).toInt

  val all: Seq[QueryDef] = Seq(queryMd5, incrementalMinHashMd5)
}
