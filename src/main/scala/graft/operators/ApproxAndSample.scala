package graft.operators

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sketch aggregates and sampling — the operations that keep 100 TB
  * interactive: HyperLogLog++ distinct counts and quantile sketches run in
  * one pass with O(1) state per group (vs. the exact two-phase expand of
  * COUNT(DISTINCT)), and samples cut input before the expensive stages.
  *
  * Sampling here is DETERMINISTIC CONTENT-HASH sampling, not seeded RNG: a
  * row is kept iff the first 8 hex chars of `md5(key)` — a uniform 32-bit
  * draw shared bit-for-bit by Spark and DuckDB — fall below
  * `floor(fraction·2³²)` rendered as zero-padded hex (lowercase hex strings
  * compare lexicographically exactly as their numeric values do). Seeded
  * `.sample()` is reproducible only for a FIXED partitioning; the
  * content-hash rule keeps the SAME rows under any cluster size,
  * repartitioning, or AQE re-plan — the property a 100 TB curation pipeline
  * actually needs (re-runs must agree row-for-row), and what lets every
  * sample query here be value-hash-checked against a DuckDB oracle instead
  * of rows-only. Only the sketch aggregates remain no_oracle (HLL registers
  * / GK summaries are engine-specific by nature; ApproxSpec bounds them
  * against the exact answers).
  */
object ApproxAndSample {

  /** floor(fraction·2³²) as the 8-hex-char threshold string for a
    * strict-< comparison against [[draw]]. Fraction ≥ 1.0 returns the
    * keep-everything sentinel "g" (sorts after every hex char): capping at
    * "ffffffff" under strict-< would silently drop the 1-in-2³² keys whose
    * draw is exactly that value. Shared with [[TrainingData.hashSplit]] —
    * the Spark/DuckDB oracle agreement depends on every content-hash
    * sampler using this exact rendering. */
  private[graft] def hexThreshold(fraction: Double): String = {
    val units = (fraction * 4294967296.0).toLong
    if (units >= 4294967296L) "g" else f"$units%08x"
  }

  /** The uniform 32-bit draw for a key column: first 8 hex chars of md5. */
  private[operators] def draw(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(key.cast("string")), 1, 8)

  /** HLL++ distinct part/supplier counts + quantile-sketch percentiles per
    * return flag, one pass, no expand. */
  val approxAggregates: QueryDef = QueryDef.noOracle("approx_aggregates") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("n_parts_approx"),
        approx_count_distinct(col("l_suppkey")).as("n_supps_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_price_approx"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** 10% Bernoulli sample of orders by key hash. The filter is a pure
    * per-row predicate — pushed into the scan, no shuffle, no state — and
    * the integer key checksum makes the oracle sensitive to WHICH rows were
    * kept, not just how many. */
  val bernoulliSample: QueryDef = QueryDef.sql(
    "sample_bernoulli",
    s"""SELECT o_orderstatus, COUNT(*) AS n_sampled,
       |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
       |FROM orders
       |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) < '${hexThreshold(0.1)}'
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(draw(col("o_orderkey")) < lit(hexThreshold(0.1)))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy("o_orderstatus")
  }

  /** Stratified sample with per-stratum fractions — the class-balancing
    * primitive for training-data curation (downsample the dominant stratum,
    * keep the rare ones whole). Per-stratum thresholds via CASE; 'g' sorts
    * after every hex char, so fraction 1.0 keeps the whole stratum. */
  val stratifiedSample: QueryDef = QueryDef.sql(
    "sample_stratified",
    s"""SELECT o_orderstatus, COUNT(*) AS n_sampled,
       |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
       |FROM orders
       |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) <
       |      CASE o_orderstatus WHEN 'O' THEN '${hexThreshold(0.05)}'
       |                         WHEN 'F' THEN '${hexThreshold(0.5)}'
       |                         ELSE '${hexThreshold(1.0)}' END
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(draw(col("o_orderkey")) <
        when(col("o_orderstatus") === "O", lit(hexThreshold(0.05)))
          .when(col("o_orderstatus") === "F", lit(hexThreshold(0.5)))
          .otherwise(lit(hexThreshold(1.0))))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy("o_orderstatus")
  }

  /** Per-char inclusion weight: doc i is kept with probability
    * n_chars·[[WeightScale]]/2³² ≈ n_chars/20000 — longer documents
    * proportionally likelier, the quality-weighted ingestion rule. */
  val WeightScale = 214748L // floor(2^32 / 20000)

  /** WEIGHTED Bernoulli sample of documents, inclusion probability
    * proportional to document length. The per-row threshold is the row's
    * weight rendered as zero-padded hex — integer arithmetic end to end, so
    * Spark and DuckDB agree exactly; capped at 2³²−1 (weights past the cap
    * are certainties). Same scan-local zero-shuffle shape as the uniform
    * form. */
  val weightedSample: QueryDef = QueryDef.sql(
    "sample_weighted",
    s"""SELECT source, COUNT(*) AS n_sampled,
       |       CAST(SUM(n_chars) AS BIGINT) AS chars_sampled,
       |       CAST(SUM(doc_id) AS BIGINT) AS key_sum
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
       |      lpad(lower(to_hex(LEAST(CAST(n_chars AS BIGINT) * $WeightScale, 4294967295))), 8, '0')
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(draw(col("doc_id")) <
        lpad(lower(hex(least(col("n_chars") * lit(WeightScale), lit(4294967295L)))), 8, "0"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("chars_sampled"),
        sum(col("doc_id")).as("key_sum"))
      .orderBy("source")
  }

  /** Fixed-size uniform sample: the k documents with the smallest key
    * hashes — the deterministic equivalent of a k-row reservoir (any k-min
    * over a uniform draw is a uniform k-subset). Spark plans the
    * orderBy+limit as TakeOrderedAndProject: each partition keeps its local
    * top-k and the driver merges k·partitions candidate rows — no global
    * sort, no shuffle of the corpus, O(k) memory per task; the same min-k
    * trick mergeable across 100 TB of splits. */
  val ReservoirK = 100

  val reservoirSample: QueryDef = QueryDef.sql(
    "sample_reservoir",
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $ReservoirK)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), draw(col("doc_id")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(ReservoirK)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Count-min sketch depth (independent hash rows) and cell-id width in
    * md5 hex chars: width = 16^chars cells per row. One hex char (w=16) is
    * deliberately UNDERSIZED against the synthetic corpus's 31-token
    * vocabulary so collisions BIND at test scale and the audit's
    * overestimate column is real, not vacuously zero (measured at sf0.01:
    * 17 of 31 tokens overestimate, max +1877); a production sketch widens
    * w against its own vocabulary — same plan, bigger cell table. */
  val CmsDepth = 4
  val CmsHexChars = 1
  val CmsTopK = 50

  /** The CMS cell a (row, token) pair lands in: first [[CmsHexChars]] hex
    * chars of md5("r:token") — the same engine-independent draw discipline
    * as [[draw]], which is what makes the sketch itself (not just its
    * consumers) DuckDB-replayable. Cell ids stay STRINGS on both sides: no
    * base conversion, no sign pitfalls. */
  private def cmsCell(r: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
    substring(md5(concat(r.cast("string"), lit(":"), t)), 1, CmsHexChars)

  /** Heavy-hitter audit over a count-min sketch (Cormode & Muthukrishnan,
    * J. Algorithms 2005) — the frequent-items member of the sketch family
    * ([[approxAggregates]]' HLL distinct counts and GK quantiles are the
    * other two). The sketch is d=[[CmsDepth]] independent hash rows of
    * w=16^[[CmsHexChars]] counters; a token's estimate is the MIN of its d
    * cells, which can only OVERcount (collisions add, never subtract).
    *
    * Two-phase plan, both phases scale-safe: (1) the sketch BUILD is one
    * groupBy into ≤ d·w cells — map-side combine collapses every task's
    * contribution to the sketch size before the exchange, so the shuffle
    * payload is O(d·w·tasks) regardless of corpus size (the same bounded-
    * payload shape as the k-means mean update); (2) the audit joins the
    * exact top-[[CmsTopK]] tokens (the ground truth the audit is FOR —
    * TakeOrdered over the vocabulary-sized count table) against the d·w
    * cell table by broadcast, reporting estimate vs. truth per token.
    * At 100 TB the sketch is what a streaming/multi-tenant pipeline keeps
    * (16 KB of counters); this query is the calibration run that prices
    * its overestimate against an exact pass — DuckDB-replayed end to end
    * (md5 cells), like the IVF recall sweep: the engine's sketch-error
    * numbers are oracle-checked, not self-reported. */
  val approxTopKCms: QueryDef = QueryDef.sql(
    "approx_topk_cms",
    s"""WITH tok AS (SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t
       |             FROM documents) WHERE len(t) > 0),
       |rr AS (SELECT unnest(range($CmsDepth)) AS r),
       |cms AS (SELECT r, substr(md5(CAST(r AS VARCHAR) || ':' || t), 1, $CmsHexChars) AS cell,
       |               COUNT(*) AS cnt
       |        FROM tok CROSS JOIN rr GROUP BY 1, 2),
       |exact AS (SELECT t, COUNT(*) AS exact_cnt FROM tok GROUP BY t
       |          ORDER BY exact_cnt DESC, t LIMIT $CmsTopK),
       |est AS (SELECT e.t, e.exact_cnt, MIN(c.cnt) AS cms_est
       |        FROM exact e CROSS JOIN rr
       |        JOIN cms c ON c.r = rr.r
       |          AND c.cell = substr(md5(CAST(rr.r AS VARCHAR) || ':' || e.t), 1, $CmsHexChars)
       |        GROUP BY 1, 2)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, t) AS BIGINT) AS rnk,
       |       t AS token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |       CAST(cms_est AS BIGINT) AS cms_est,
       |       CAST(cms_est - exact_cnt AS BIGINT) AS overest
       |FROM est ORDER BY rnk""".stripMargin) { (s, d) =>
    val tok = Tables.fanOut(Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
    val cells = tok
      .select(col("t"), explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("r"), cmsCell(col("r"), col("t")).as("cell"))
      .groupBy(col("r"), col("cell")).agg(count(lit(1)).as("cnt"))
    val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("t")).limit(CmsTopK)
    val est = exact
      .select(col("t"), col("exact_cnt"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .withColumn("cell", cmsCell(col("r"), col("t")))
    cells.join(broadcast(est), Seq("r", "cell"))
      .groupBy(col("t"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("exact_cnt").desc, col("t"))).cast("long").as("rnk"),
        col("t").as("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overest"))
      .orderBy("rnk")
  }

  /** CLUSTER-BALANCED sampling over the embedding space — the diversity
    * sampler of the SSL-curation lineage (SemDeDup arXiv:2303.09540 §
    * cluster-based pruning; DINO/SEER-style balanced pretraining sets):
    * uniform sampling of a web corpus reproduces its head-heavy topic
    * skew, so sample a FIXED BUDGET PER EMBEDDING CLUSTER instead — head
    * clusters are downsampled hard, tail clusters survive whole, and the
    * output's cluster histogram is flat by construction. Composition:
    * assign every vector to its nearest of the 16 md5-ranked coarse
    * centroids (the shared [[Similarity.centroidArray]] /
    * [[Similarity.ivfListsFrom]] broadcast row-local argmax — zero
    * shuffle), then keep 8 per cluster by the same deterministic
    * content-hash draw every sampler here uses (md5(vec_id) ASC — a
    * uniform random pick that re-runs agree on row-for-row). Emits
    * `cluster_n` so the curator sees what each budget displaced.
    *
    * Scale shape: assignment is row-local against a broadcast centroid
    * table; the per-cluster pick is the bounded-heap
    * [[graft.plans.TopKPerGroup]] operator (memory O(clusters·k) per
    * task), never a Sort+Window over the corpus; cluster sizes are one
    * map-side-combined aggregation. */
  val clusterBalancedSample: QueryDef = QueryDef.sql(
    "sample_cluster_balanced",
    s"""WITH ${Similarity.normedCte},
      |${Similarity.md5CentsCte},
      |${Similarity.asgCte("n.vec_id")},
      |lists AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
      |sized AS (SELECT cid, COUNT(*) AS cluster_n FROM lists GROUP BY cid),
      |picked AS (SELECT cid, vec_id,
      |             ROW_NUMBER() OVER (PARTITION BY cid
      |               ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 15), vec_id) AS pick
      |           FROM lists)
      |SELECT p.cid, p.vec_id, CAST(p.pick AS BIGINT) AS pick,
      |       CAST(s.cluster_n AS BIGINT) AS cluster_n
      |FROM picked p JOIN sized s USING (cid)
      |WHERE p.pick <= 8 ORDER BY p.cid, p.pick""".stripMargin) { (s, d) =>
    clusterBalancedOn(Similarity.withNorm(Tables.embeddings(s, d)))
      .orderBy("cid", "pick")
  }

  /** [[clusterBalancedSample]]'s body over an explicit normed embedding
    * frame (vec_id, e, nrm) — spec entry point. `perCluster` rows kept
    * per cluster. */
  private[graft] def clusterBalancedOn(n: org.apache.spark.sql.DataFrame,
      numCentroids: Int = 16, perCluster: Int = 8): org.apache.spark.sql.DataFrame = {
    val cents = Similarity.centroidArray(n, numCentroids)
    // the assignment feeds BOTH the size aggregate and the pick — without
    // materialization each consumer re-runs the embedding scan + argmax
    val lists = graft.Tables.materialize(
      Similarity.ivfListsFrom(n, cents).select(col("vec_id"), col("cid")))
    val sized = lists.groupBy(col("cid")).agg(count(lit(1)).as("cluster_n"))
    // the 60-bit md5 prefix as a NEGATED long score: TopKPerGroup's
    // score-DESC heap becomes a hash-ASC pick; numeric order of the hex
    // prefix equals the oracle's string order over the same 15 chars
    val keyed = lists.withColumn("skey",
      -conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long"))
    graft.plans.TopKPerGroup(keyed, Seq(col("cid")), col("skey"),
        col("vec_id"), perCluster)
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(
        negate(col("skey")).as("h"), col("vec_id").as("vec_id")))).as("ranked"))
      .select(col("cid"), posexplode(col("ranked")).as(Seq("i", "x")))
      .select(col("cid"), col("x.vec_id").as("vec_id"),
        (col("i") + 1).cast("long").as("pick"))
      .join(sized, Seq("cid"))
      .select(col("cid"), col("vec_id"), col("pick"), col("cluster_n"))
  }

  val all: Seq[QueryDef] = Seq(approxAggregates, bernoulliSample, stratifiedSample,
    weightedSample, reservoirSample, approxTopKCms, clusterBalancedSample)
}
