package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** HYBRID RETRIEVAL — reciprocal-rank fusion (RRF) of the engine's two
  * retrieval legs: the lexical ranking (`text_bm25_perquery` — each query's
  * OWN term set and ranking) and the dense ranking, which since round 14 is
  * the SERVED ANN index (`knn_cosine_ivf_kmeans`'s frozen-quantizer IVF
  * tail) rather than exact brute force — real hybrid serving fuses what the
  * index returns, and the eval below prices exactly what that swap costs in
  * recall against the brute-force baseline. RRF is the standard serving-side
  * fusion (Cormack, Clarke & Buettcher, SIGIR'09: score = Σ 1/(k + rank),
  * k = 60): it needs no score calibration between legs — only ranks — and
  * a document surfaced by EITHER leg alone can win the fused list, which
  * is the property that makes hybrid search beat each leg (lexical catches
  * exact-term matches dense embeddings smear; dense catches paraphrases
  * lexical misses). RrfHybridSpec pins that single-leg winners take #1 in
  * both directions, with per-query lexical lists.
  *
  * SERVING POSTURE (round 14): both rank tables are train-once
  * [[graft.sources.ModelStore]] artifacts — deterministic functions of the
  * corpus content, the same contract as the BM25 inverted index and the IVF
  * codebook they derive from — so the fusion and the eval read ~100-row
  * parquet instead of re-running the legs' corpus-scale plans per query.
  * The oracles do NOT read the rank artifacts: they replay the lexical leg
  * from the raw documents table and the dense leg from the persisted
  * CENTROID parquet (the `knn_cosine_ivf_kmeans` replay), so a stale or
  * corrupt rank artifact hash-fails (artifact-equals-fresh, the
  * fingerprint-store discipline).
  *
  * Exactness: rank-only inputs make the fusion fully integer —
  * `1000000 div (60 + rank)` per contributing leg (the published 1/(k+r)
  * scaled to keep every digit in BIGINT), absent legs contribute exactly 0.
  *
  * Scale shape: the fusion input is inherently tiny — per query, at most
  * k_lex + k_dense candidate rows (the legs' own serving tails already
  * bounded them), so the fusion costs a full-outer join keyed
  * (query_id, doc_id) and the bounded-heap [[graft.plans.TopKPerGroup]]
  * tail. The expensive work lives in the leg ARTIFACT builds, paid once per
  * corpus content; fusing N queries adds O(N·k) rows of integer
  * arithmetic. */
object Retrieval {

  /** RRF constant — the SIGIR'09 default, shared by both dialects. */
  val RrfK = 60

  /** The lexical serving rank table (query_id, doc_id, milli_score, rnk) as
    * a train-once artifact keyed on the documents corpus — built by the
    * already-oracled `text_bm25_perquery` plan (which itself probes the
    * persisted BM25 inverted index), then read as ~200 rows of parquet by
    * every fusion/eval consumer. */
  private[graft] def lexRanks(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "lex_ranks") {
      TextAnalysis.bm25PerQuery.run(s, d)
    }

  /** The SERVED dense rank table (query_id, neighbor_id, rnk, cosine):
    * what the production ANN index returns — `knn_cosine_ivf_kmeans`'s
    * frozen-Lloyd-quantizer IVF serving tail — persisted once per
    * embeddings-corpus content. */
  private[graft] def denseIvfRanks(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "embeddings.parquet", "dense_ivf_ranks") {
      Similarity.knnIvfKmeansQuery.run(s, d)
    }

  /** The EXACT dense rank table (`knn_cosine_bruteforce`) — the recall
    * baseline the eval prices the served index against. */
  private[graft] def denseExactRanks(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "embeddings.parquet", "dense_bf_ranks") {
      Similarity.knnBruteForce.run(s, d)
    }

  /** Fuse a per-query lexical ranking (query_id, doc_id, lex_rank) with a
    * per-query dense ranking (query_id, doc_id, dense_rank): union
    * semantics via full-outer join keyed (query_id, doc_id) — a query
    * present in only one leg still fuses — exact-integer RRF scores,
    * top-`topK` per query through the bounded-heap operator, ranks rebuilt
    * without a window (the [[Similarity.topKRanked]] array_sort recipe,
    * integer flavor). Absent legs surface as rank 0 — the report
    * distinguishes "missing" from any real rank, and the score term is
    * exactly 0.
    *
    * [[rrfFuse]] appends the serving presentation order; the eval queries
    * consume [[rrfFuseUnordered]] instead — they aggregate the list
    * immediately, so the global sort there was a pure
    * rangepartitioning exchange (+ its boundary-sampling job) in the
    * middle of their plans (guide §2.4: an orderBy used only for output
    * determinism is an accidental exchange). Same rows either way. */
  private[graft] def rrfFuse(lex: DataFrame, den: DataFrame, topK: Int): DataFrame =
    rrfFuseUnordered(lex, den, topK).orderBy("query_id", "rnk")

  /** [[rrfFuse]] without the presentation sort — for consumers that
    * re-aggregate the fused list (the eval reports).
    *
    * The union-semantics merge runs as unionByName + groupBy(query_id,
    * doc_id) rather than a full-outer join: each leg is a RANKING — unique
    * per (query_id, doc_id) by construction (ROW_NUMBER / topKRanked
    * output) — so max() over the null-padded union recovers exactly the
    * join's row set (a (q, d) present in one leg keeps its rank and a NULL
    * other-leg rank; present in both, both ranks), while paying ONE
    * exchange on (query_id, doc_id) with map-side combine instead of the
    * join's two exchanges + two sorts (guide §2.4). The fuse≡reference
    * property (MergeApplyPropertySpec) and the RrfHybridSpec replays pin
    * the equivalence on absent-leg / disjoint-doc / tie cases. */
  private[graft] def rrfFuseUnordered(lex: DataFrame, den: DataFrame, topK: Int): DataFrame = {
    val nullRank = lit(null).cast("long")
    val merged = lex.select(col("query_id"), col("doc_id"),
        col("lex_rank").cast("long").as("lex_rank"),
        nullRank.as("dense_rank"))
      .unionByName(den.select(col("query_id"), col("doc_id"),
        nullRank.as("lex_rank"),
        col("dense_rank").cast("long").as("dense_rank")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("lex_rank")).as("lex_rank"),
        max(col("dense_rank")).as("dense_rank"))
    val fused = merged
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).cast("long").as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).cast("long").as("dense_rank"),
        (coalesce(expr(s"1000000 div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + dense_rank)"), lit(0L)))
          .cast("long").as("rrf_score"))
    graft.plans.TopKPerGroup(fused, Seq(col("query_id")),
        col("rrf_score"), col("doc_id"), topK)
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(
        negate(col("rrf_score")).as("neg_score"),
        col("doc_id").as("doc_id"),
        col("lex_rank").as("lex_rank"),
        col("dense_rank").as("dense_rank"),
        col("rrf_score").as("rrf_score")))).as("ranked"))
      .select(col("query_id"), posexplode(col("ranked")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.doc_id").as("doc_id"),
        col("s.lex_rank").as("lex_rank"),
        col("s.dense_rank").as("dense_rank"),
        col("s.rrf_score").as("rrf_score"),
        (col("i") + 1).cast("long").as("rnk"))
  }

  /** A leg's oracle SQL, failing with an actionable message if a future
    * refactor makes the leg sqlDynamic/no-oracle (this is read at registry
    * construction, so a bare .get would crash EVERY run — advisor
    * round 12). */
  private def legOracle(q: QueryDef): String = q.oracle.getOrElse(
    throw new IllegalStateException(
      s"retrieval_rrf_hybrid composes ${q.name}'s oracle SQL; that leg no " +
        "longer carries a static oracle — re-derive the fusion oracle"))

  /** A leg's DYNAMIC oracle SQL (artifact-referencing — the IVF dense leg
    * replays from the persisted centroid parquet). */
  private def legOracleFor(q: QueryDef, s: SparkSession, d: String): String =
    q.oracleFor.getOrElse(throw new IllegalStateException(
      s"retrieval composes ${q.name}'s dynamic oracle SQL; that leg no " +
        "longer carries one — re-derive the fusion oracle"))(s, d)

  /** Registered fusion over the two persisted rank-table artifacts, top-10
    * per query. The artifacts are written by the SAME plans the legs' own
    * correctness rows are checked on; the oracle replays both legs from raw
    * tables + the centroid parquet, never reading the rank artifacts — so
    * the row checks artifact content AND fusion arithmetic at once. */
  val rrfHybrid: QueryDef = QueryDef.sqlDynamic("retrieval_rrf_hybrid") { (s, d) =>
    val lexSql = legOracle(graft.operators.TextAnalysis.bm25PerQuery)
    val denSql = legOracleFor(graft.operators.Similarity.knnIvfKmeansQuery, s, d)
    s"""WITH lex AS (SELECT query_id, doc_id, rnk AS lex_rank FROM ($lexSql)),
      |den AS (SELECT query_id, neighbor_id AS doc_id, rnk AS dense_rank
      |        FROM ($denSql)),
      |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
      |             COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |             COALESCE(a.lex_rank, 0) AS lex_rank,
      |             COALESCE(b.dense_rank, 0) AS dense_rank,
      |             (CASE WHEN a.lex_rank IS NOT NULL THEN 1000000 // (${RrfK} + a.lex_rank) ELSE 0 END
      |            + CASE WHEN b.dense_rank IS NOT NULL THEN 1000000 // (${RrfK} + b.dense_rank) ELSE 0 END) AS rrf_score
      |      FROM lex a FULL OUTER JOIN den b
      |        ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                  ORDER BY rrf_score DESC, doc_id) AS rnk FROM f)
      |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
      |       CAST(lex_rank AS BIGINT) AS lex_rank,
      |       CAST(dense_rank AS BIGINT) AS dense_rank,
      |       CAST(rrf_score AS BIGINT) AS rrf_score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  } { (s, d) =>
    docHybridRanksUnordered(s, d).orderBy("query_id", "rnk")
  }

  /** The doc-grain hybrid's fused table WITHOUT the presentation sort —
    * [[rrfHybrid]]'s body, shared with [[chunkEval]] (which re-aggregates
    * the list, so ordering it first would be a wasted range exchange). */
  private def docHybridRanksUnordered(s: SparkSession, d: String): DataFrame = {
    val lex = lexRanks(s, d)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rank"))
    val den = denseIvfRanks(s, d)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("dense_rank"))
    rrfFuseUnordered(lex, den, topK = 10)
  }

  /** Exact-integer gain 1000000 div milli_log2(x) — the nDCG position
    * discount 1/log2(i+1) in fixed point, via the shared
    * [[QualityClassifier.ml2]] machinery so both engines evaluate the
    * identical linear-interpolated milli-log2. */
  private def gain(x: String, duck: Boolean): String = {
    val d = if (duck) "//" else "div"
    s"(1000000 $d ${QualityClassifier.ml2(x, duck)})"
  }

  /** RETRIEVAL QUALITY EVAL — the serving-side counterpart of
    * `knn_ivf_recall_sweep`: measure, as a relational operator with an
    * oracle, how each retrieval leg and the fusion perform against a
    * ground truth, so "is hybrid helping" and "what does serving from the
    * ANN index instead of brute force cost" are checked numbers instead of
    * slogans. Relevance is the label column (the `knn_cosine_filtered` /
    * `knn_hard_negatives` convention): for query q, relevant = other
    * vectors sharing label(q). Per query the report gives n_rel, hits +
    * exact-integer milli-recall for the lexical list (its serving top-20),
    * the SERVED dense list (the IVF index top-5 — what the fusion actually
    * consumes), the EXACT dense list (brute-force top-5 — the baseline),
    * the served-vs-exact recall delta (the price of the index), and the
    * fused list (top-10) — each leg evaluated on EXACTLY the list it
    * serves, list lengths and all. EVERY list additionally carries the two
    * published ranking-quality metrics (round 16 — previously fused-only,
    * so "hybrid beats the legs" was an unchecked claim): MRR@10 (1000 div
    * rank of the first relevant at rank ≤ 10) and nDCG@10 with binary
    * gains, the log2 discount in the shared fixed-point milli-log2
    * ([[gain]]) so both engines sum the identical integers; the lexical
    * top-20 list is clipped to rank ≤ 10 for the @10 window, the dense
    * top-5 and fused top-10 lists already sit inside it, and all four share
    * the one ideal-DCG denominator (least(n_rel, 10) relevant items at the
    * top). Every number is a count or a floor-divided milli ratio —
    * hash-exact.
    *
    * On this synthetic corpus the lexical leg dominates (document tokens
    * correlate with the label; the random-ish embeddings do not) — the
    * eval reports it rather than assuming the published hybrid>legs
    * folklore, which is the point of having the measurement.
    *
    * Scale shape: all four lists read train-once artifacts (≤ 35 rows per
    * query); the only corpus-scale touch is the label table, scanned twice
    * (n_rel counts; hit lookups) with the tiny list side broadcast. */
  val rrfEval: QueryDef = QueryDef.sqlDynamic("retrieval_rrf_eval") { (s, d) =>
    val lexSql = legOracle(graft.operators.TextAnalysis.bm25PerQuery)
    val denSql = legOracleFor(graft.operators.Similarity.knnIvfKmeansQuery, s, d)
    val bfSql = legOracle(graft.operators.Similarity.knnBruteForce)
    val idcg = s"list_sum(list_transform(generate_series(1, LEAST(relc.n_rel, 10)), i -> ${gain("(i + 1)", duck = true)}))"
    s"""WITH lex0 AS (SELECT query_id, doc_id, rnk AS lex_rank FROM ($lexSql)),
      |den0 AS (SELECT query_id, neighbor_id AS doc_id, rnk AS dense_rank FROM ($denSql)),
      |bf0 AS (SELECT query_id, neighbor_id AS doc_id, rnk AS bf_rank FROM ($bfSql)),
      |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
      |             COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |             (CASE WHEN a.lex_rank IS NOT NULL THEN 1000000 // ($RrfK + a.lex_rank) ELSE 0 END
      |            + CASE WHEN b.dense_rank IS NOT NULL THEN 1000000 // ($RrfK + b.dense_rank) ELSE 0 END) AS rrf_score
      |      FROM lex0 a FULL OUTER JOIN den0 b
      |        ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
      |fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                   ORDER BY rrf_score DESC, doc_id) AS rnk FROM f),
      |fused AS (SELECT query_id, doc_id, rnk FROM fr WHERE rnk <= 10),
      |q AS (SELECT vec_id AS query_id, label AS qlabel FROM embeddings WHERE vec_id < 10),
      |lab AS (SELECT vec_id, label FROM embeddings),
      |relc AS (SELECT q.query_id, COUNT(*) AS n_rel FROM q JOIN lab
      |           ON lab.label = q.qlabel AND lab.vec_id <> q.query_id GROUP BY q.query_id),
      |lh AS (SELECT l.query_id, COUNT(*) AS c,
      |              MIN(CASE WHEN l.lex_rank <= 10 THEN l.lex_rank END) AS first_rel,
      |              SUM(CASE WHEN l.lex_rank <= 10 THEN ${gain("(l.lex_rank + 1)", duck = true)} ELSE 0 END) AS dcg
      |       FROM lex0 l JOIN q ON l.query_id = q.query_id
      |         JOIN lab ON lab.vec_id = l.doc_id AND lab.label = q.qlabel GROUP BY l.query_id),
      |dh AS (SELECT l.query_id, COUNT(*) AS c,
      |              MIN(CASE WHEN l.dense_rank <= 10 THEN l.dense_rank END) AS first_rel,
      |              SUM(CASE WHEN l.dense_rank <= 10 THEN ${gain("(l.dense_rank + 1)", duck = true)} ELSE 0 END) AS dcg
      |       FROM den0 l JOIN q ON l.query_id = q.query_id
      |         JOIN lab ON lab.vec_id = l.doc_id AND lab.label = q.qlabel GROUP BY l.query_id),
      |bh AS (SELECT l.query_id, COUNT(*) AS c,
      |              MIN(CASE WHEN l.bf_rank <= 10 THEN l.bf_rank END) AS first_rel,
      |              SUM(CASE WHEN l.bf_rank <= 10 THEN ${gain("(l.bf_rank + 1)", duck = true)} ELSE 0 END) AS dcg
      |       FROM bf0 l JOIN q ON l.query_id = q.query_id
      |         JOIN lab ON lab.vec_id = l.doc_id AND lab.label = q.qlabel GROUP BY l.query_id),
      |rh AS (SELECT l.query_id, COUNT(*) AS c, MIN(l.rnk) AS first_rel,
      |              SUM(${gain("(l.rnk + 1)", duck = true)}) AS dcg
      |       FROM fused l JOIN q ON l.query_id = q.query_id
      |         JOIN lab ON lab.vec_id = l.doc_id AND lab.label = q.qlabel GROUP BY l.query_id)
      |SELECT CAST(q.query_id AS BIGINT) AS query_id,
      |       CAST(relc.n_rel AS BIGINT) AS n_rel,
      |       CAST(COALESCE(lh.c, 0) AS BIGINT) AS lex_hits,
      |       CAST(COALESCE(dh.c, 0) AS BIGINT) AS dense_hits,
      |       CAST(COALESCE(bh.c, 0) AS BIGINT) AS dense_exact_hits,
      |       CAST(COALESCE(rh.c, 0) AS BIGINT) AS rrf_hits,
      |       CAST(1000 * COALESCE(lh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS lex_recall_milli,
      |       CAST(1000 * COALESCE(dh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS dense_recall_milli,
      |       CAST(1000 * COALESCE(bh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS dense_exact_recall_milli,
      |       CAST(1000 * COALESCE(dh.c, 0) // GREATEST(relc.n_rel, 1)
      |          - 1000 * COALESCE(bh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS dense_vs_exact_delta_milli,
      |       CAST(1000 * COALESCE(rh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS rrf_recall_milli,
      |       CAST(COALESCE(1000 // lh.first_rel, 0) AS BIGINT) AS lex_mrr_milli,
      |       CAST(COALESCE((1000 * lh.dcg) // $idcg, 0) AS BIGINT) AS lex_ndcg_milli,
      |       CAST(COALESCE(1000 // dh.first_rel, 0) AS BIGINT) AS dense_mrr_milli,
      |       CAST(COALESCE((1000 * dh.dcg) // $idcg, 0) AS BIGINT) AS dense_ndcg_milli,
      |       CAST(COALESCE(1000 // bh.first_rel, 0) AS BIGINT) AS dense_exact_mrr_milli,
      |       CAST(COALESCE((1000 * bh.dcg) // $idcg, 0) AS BIGINT) AS dense_exact_ndcg_milli,
      |       CAST(COALESCE(1000 // rh.first_rel, 0) AS BIGINT) AS rrf_mrr_milli,
      |       CAST(COALESCE((1000 * rh.dcg) // $idcg, 0) AS BIGINT) AS rrf_ndcg_milli
      |FROM q JOIN relc ON q.query_id = relc.query_id
      |LEFT JOIN lh ON q.query_id = lh.query_id
      |LEFT JOIN dh ON q.query_id = dh.query_id
      |LEFT JOIN bh ON q.query_id = bh.query_id
      |LEFT JOIN rh ON q.query_id = rh.query_id
      |ORDER BY q.query_id""".stripMargin
  } { (s, d) =>
    // all four lists are tiny artifact reads; the fusion recomputes from the
    // same artifacts the registered hybrid serves from
    val lex = lexRanks(s, d)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rank"))
    val den = denseIvfRanks(s, d)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rnk").as("dense_rank"))
    val bf = denseExactRanks(s, d)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
    // unordered fuse: this list is re-aggregated below, so the hybrid's
    // presentation sort would be a wasted range exchange mid-plan
    val fused = rrfFuseUnordered(lex, den, topK = 10)
      .select(col("query_id"), col("doc_id"), col("rnk"))
    val lab = graft.Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val q = lab.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val relc = lab.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    // ONE label-lookup pass for all four lists: tag and union the (tiny)
    // serving lists — each row carries its OWN leg's rank — join the corpus
    // label table once, and split the hit counts plus EVERY leg's MRR@10 /
    // DCG@10 terms back out as conditional aggregates (rnk <= 10 clips the
    // lexical top-20 list to the @10 metric window; the dense top-5 lists
    // and the fused top-10 are already inside it)
    def legged(df: DataFrame, rank: String, leg: String): DataFrame =
      df.select(col("query_id"), col("doc_id"), col(rank).cast("long").as("rnk"),
        lit(leg).as("leg"))
    val tagged = legged(lex, "lex_rank", "lex")
      .unionByName(legged(den, "dense_rank", "dense"))
      .unionByName(legged(bf, "rnk", "bf"))
      .unionByName(legged(fused, "rnk", "rrf"))
    def firstRel(leg: String) =
      min(when(col("leg") === leg && col("rnk") <= 10, col("rnk")))
    def dcg(leg: String) =
      sum(when(col("leg") === leg && col("rnk") <= 10,
        expr(gain("(rnk + 1)", duck = false))).otherwise(0L))
    val hits = lab.join(broadcast(tagged.join(q, Seq("query_id"))),
        col("vec_id") === col("doc_id") && col("label") === col("qlabel"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("leg") === "lex", 1L).otherwise(0L)).as("lex_hits"),
        sum(when(col("leg") === "dense", 1L).otherwise(0L)).as("dense_hits"),
        sum(when(col("leg") === "bf", 1L).otherwise(0L)).as("dense_exact_hits"),
        sum(when(col("leg") === "rrf", 1L).otherwise(0L)).as("rrf_hits"),
        firstRel("lex").as("lex_first_rel"), dcg("lex").as("lex_dcg"),
        firstRel("dense").as("dense_first_rel"), dcg("dense").as("dense_dcg"),
        firstRel("bf").as("bf_first_rel"), dcg("bf").as("bf_dcg"),
        firstRel("rrf").as("first_rel"), dcg("rrf").as("dcg"))
    def mrrOf(firstRelCol: String, out: String) =
      coalesce(expr(s"1000 div $firstRelCol"), lit(0L)).as(out)
    def ndcgOf(dcgCol: String, out: String) =
      coalesce(expr(s"(1000 * $dcgCol) div " +
          s"aggregate(sequence(cast(1 as bigint), least(n_rel, cast(10 as bigint))), cast(0 as bigint), (acc, i) -> acc + ${gain("(i + 1)", duck = false)})"),
        lit(0L)).as(out)
    q.select(col("query_id"))
      .join(relc, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("lex_hits"), lit(0L)).as("lex_hits"),
        coalesce(col("dense_hits"), lit(0L)).as("dense_hits"),
        coalesce(col("dense_exact_hits"), lit(0L)).as("dense_exact_hits"),
        coalesce(col("rrf_hits"), lit(0L)).as("rrf_hits"),
        col("lex_first_rel"), coalesce(col("lex_dcg"), lit(0L)).as("lex_dcg"),
        col("dense_first_rel"),
        coalesce(col("dense_dcg"), lit(0L)).as("dense_dcg"),
        col("bf_first_rel"), coalesce(col("bf_dcg"), lit(0L)).as("bf_dcg"),
        col("first_rel"), coalesce(col("dcg"), lit(0L)).as("dcg"))
      .select(col("query_id"), col("n_rel"), col("lex_hits"), col("dense_hits"),
        col("dense_exact_hits"), col("rrf_hits"),
        expr("1000 * lex_hits div greatest(n_rel, 1)").as("lex_recall_milli"),
        expr("1000 * dense_hits div greatest(n_rel, 1)").as("dense_recall_milli"),
        expr("1000 * dense_exact_hits div greatest(n_rel, 1)").as("dense_exact_recall_milli"),
        expr("1000 * dense_hits div greatest(n_rel, 1) - 1000 * dense_exact_hits div greatest(n_rel, 1)")
          .as("dense_vs_exact_delta_milli"),
        expr("1000 * rrf_hits div greatest(n_rel, 1)").as("rrf_recall_milli"),
        mrrOf("lex_first_rel", "lex_mrr_milli"),
        ndcgOf("lex_dcg", "lex_ndcg_milli"),
        mrrOf("dense_first_rel", "dense_mrr_milli"),
        ndcgOf("dense_dcg", "dense_ndcg_milli"),
        mrrOf("bf_first_rel", "dense_exact_mrr_milli"),
        ndcgOf("bf_dcg", "dense_exact_ndcg_milli"),
        mrrOf("first_rel", "rrf_mrr_milli"),
        ndcgOf("dcg", "rrf_ndcg_milli"))
      .orderBy("query_id")
  }

  /** Per-query doc ranking from a scored (query_id, doc_id, <score>) frame:
    * top-`k` through the bounded-heap [[graft.plans.TopKPerGroup]] operator,
    * ranks rebuilt without a Sort/Window node (the [[rrfFuse]] array_sort
    * recipe) — score DESC, doc_id ASC, exactly ROW_NUMBER's order. */
  private def rankDocs(scored: DataFrame, score: String, k: Int,
      out: String, keepScore: Boolean = false): DataFrame = {
    val ranked = graft.plans.TopKPerGroup(scored, Seq(col("query_id")),
        col(score), col("doc_id"), k)
      .groupBy(col("query_id"))
      // the score rides the struct THIRD: the (neg, doc_id) prefix is the
      // sort key — (score DESC, doc_id ASC), doc_id unique — unchanged
      .agg(array_sort(collect_list(struct(
        negate(col(score)).as("neg"), col("doc_id").as("doc_id"),
        col(score).as("score")))).as("ranked"))
      .select(col("query_id"), posexplode(col("ranked")).as(Seq("i", "x")))
    if (keepScore)
      ranked.select(col("query_id"), col("x.doc_id").as("doc_id"),
        col("x.score").as(score), (col("i") + 1).cast("long").as(out))
    else
      ranked.select(col("query_id"), col("x.doc_id").as("doc_id"),
        (col("i") + 1).cast("long").as(out))
  }

  /** CHUNK-GRAIN HYBRID RETRIEVAL — the RAG-standard serving composition
    * the doc-grain [[rrfHybrid]] approximates: retrieval quality lives at
    * the PASSAGE level (a 10k-token document about everything matches
    * nothing; its one relevant 32-token window matches exactly), so both
    * legs score `text_chunk_windows`' chunk table and a document's score
    * is its BEST chunk's — the max-passage aggregation (Dai & Callan,
    * SIGIR'19 BERT-MaxP; Liu & Croft's passage-retrieval lineage).
    *
    * Composition per query (query q = document q, the family convention):
    * - LEXICAL leg: BM25 (Robertson k1=1.2, b=0.75, the shared
    *   [[TextAnalysis.bm25TermScore]] expression) where the "documents"
    *   are the corpus's DISTINCT chunks (md5-collapsed first — the
    *   signature-grid discipline: a boilerplate chunk shared by 1000 docs
    *   is scored once); query terms = the query document's 3 most
    *   chunk-frequent tokens of length ≥ 4 (chunk-df DESC, token ASC —
    *   the [[TextAnalysis.bm25PerQuery]] rule at chunk grain). Chunk
    *   scores are milli-rounded integers; doc score = MAX over its chunks;
    *   top-10 docs per query.
    * - DENSE leg: the IVF tail over chunk embeddings
    *   ([[Similarity.chunkEmbed]]'s 16-dim exact-integer hashed
    *   bag-of-words — the property that makes the WHOLE leg
    *   DuckDB-replayable), md5-ranked coarse quantizer
    *   ([[Similarity.centroidArray]]), each query embedded with the same
    *   hashing trick over its full text, probed against its nearest
    *   centroid's inverted list only; micro-rounded cosine per candidate
    *   chunk, MAX per doc, top-5 docs per query.
    * - FUSE: the shared exact-integer [[rrfFuse]], top-10 docs.
    * The query document is excluded from its own candidates at the DOC
    * level (a chunk shared between the query doc and doc X still counts
    * for X — the leakage rule that matters for near-dup corpora).
    *
    * Scale shape: chunking is a row-local explode paid once into the
    * train-once artifact; the md5 collapse bounds all scoring to DISTINCT
    * content; the lexical probe touches only the query terms' postings
    * (term-keyed join, term set broadcast); the dense probe touches one
    * inverted list per query (broadcast row-local argmax assignment, zero
    * shuffle — the [[Similarity.ivfListsFrom]] plan); max-passage is one
    * groupBy over the already-bounded candidate rows; both serving tails
    * are bounded heaps. No corpus sort, no all-pairs anywhere. Serving
    * reads the ~100-row persisted rank table ([[graft.sources.ModelStore]]
    * keyed on corpus content); the oracle replays chunking, indexing, both
    * legs, max-passage, and the fusion from the raw documents table — a
    * stale artifact hash-fails. */
  val chunkHybrid: QueryDef = QueryDef.sql(
    "retrieval_chunk_hybrid", {
      // the embedding-identity fragments are SHARED with
      // dedup_chunk_semantic's oracle — one definition in Similarity so
      // the query leg can never desynchronize from the indexed chunks
      val (hex60, dim, esums) =
        (Similarity.Hex60Sql, Similarity.DimSql, Similarity.EsumsSql)
      val w = graft.operators.TrainingData.ChunkW
      val st = graft.operators.TrainingData.ChunkS
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
      |                  len(string_split(text, ' ')) AS n FROM documents),
      |c AS (SELECT doc_id, ws, n,
      |             unnest(generate_series(0, CAST((n - 1) // $st AS INT))) AS cid
      |      FROM t),
      |ch AS MATERIALIZED (SELECT doc_id,
      |              array_to_string(ws[CAST(cid * $st + 1 AS INT)
      |                : CAST(cid * $st + LEAST($w, n - cid * $st) AS INT)], ' ')
      |                AS chunk_text
      |       FROM c),
      |memb AS MATERIALIZED (SELECT DISTINCT doc_id, md5(chunk_text) AS chunk_hash FROM ch),
      |sig AS MATERIALIZED (SELECT md5(chunk_text) AS chunk_hash,
      |               MIN(chunk_text) AS chunk_text
      |        FROM ch GROUP BY md5(chunk_text)),
      |tok AS MATERIALIZED (SELECT chunk_hash, unnest(string_split(chunk_text, ' ')) AS tk FROM sig),
      |tf AS MATERIALIZED (SELECT chunk_hash, tk, COUNT(*) AS tf FROM tok GROUP BY chunk_hash, tk),
      |dl AS MATERIALIZED (SELECT chunk_hash, COUNT(*) AS dl FROM tok GROUP BY chunk_hash),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |dfreq AS MATERIALIZED (SELECT tk, COUNT(*) AS df FROM tf GROUP BY tk),
      |qtok AS (SELECT DISTINCT doc_id AS query_id, tk FROM
      |           (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      |            FROM documents WHERE doc_id < 10)
      |         WHERE length(tk) >= 4),
      |qterms AS (SELECT query_id, tk, df FROM (
      |            SELECT q.query_id, q.tk, dfreq.df,
      |                   ROW_NUMBER() OVER (PARTITION BY q.query_id
      |                     ORDER BY dfreq.df DESC, q.tk) AS r
      |            FROM qtok q JOIN dfreq ON q.tk = dfreq.tk) WHERE r <= 3),
      |scoredc AS (SELECT qterms.query_id, tf.chunk_hash,
      |        SUM( ln((CAST(stats.n_docs - qterms.df AS DOUBLE) + 0.5)
      |                / (CAST(qterms.df AS DOUBLE) + 0.5) + 1.0)
      |             * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |             / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                   * CAST(dl.dl * stats.n_docs AS DOUBLE)
      |                   / CAST(stats.sum_dl AS DOUBLE))) ) AS s
      |        FROM tf JOIN qterms ON tf.tk = qterms.tk
      |             JOIN dl ON tf.chunk_hash = dl.chunk_hash CROSS JOIN stats
      |        GROUP BY qterms.query_id, tf.chunk_hash),
      |lexdoc AS (SELECT s.query_id, m.doc_id,
      |                  MAX(CAST(ROUND(1000.0 * s.s) AS BIGINT)) AS milli_score
      |           FROM scoredc s JOIN memb m ON s.chunk_hash = m.chunk_hash
      |           WHERE m.doc_id <> s.query_id
      |           GROUP BY s.query_id, m.doc_id),
      |lex AS (SELECT query_id, doc_id, lex_rank FROM (
      |          SELECT query_id, doc_id,
      |                 ROW_NUMBER() OVER (PARTITION BY query_id
      |                   ORDER BY milli_score DESC, doc_id) AS lex_rank
      |          FROM lexdoc) WHERE lex_rank <= 10),
      |dt AS (SELECT chunk_hash, $dim AS dim FROM
      |         (SELECT chunk_hash, unnest(string_split(chunk_text, ' ')) AS t FROM sig)),
      |emb AS (SELECT chunk_hash, [$esums] AS e FROM dt GROUP BY chunk_hash),
      |n0 AS MATERIALIZED (SELECT chunk_hash, $hex60 AS vec_id, e,
      |              sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm
      |       FROM emb),
      |cents AS MATERIALIZED (SELECT vec_id AS ccid, e AS ce, nrm AS cnrm FROM n0
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |asg AS (SELECT n0.vec_id, n0.chunk_hash, n0.e, n0.nrm, c.ccid,
      |               ROW_NUMBER() OVER (PARTITION BY n0.vec_id
      |                 ORDER BY list_sum(list_transform(list_zip(n0.e, c.ce), x -> x[1]*x[2]))
      |                            / (n0.nrm * c.cnrm) DESC, c.ccid) AS rk
      |        FROM n0 CROSS JOIN cents c),
      |mem AS MATERIALIZED (SELECT vec_id, chunk_hash, e, nrm, ccid AS cid FROM asg WHERE rk = 1),
      |qdt AS (SELECT query_id, $dim AS dim FROM
      |          (SELECT doc_id AS query_id, unnest(string_split(text, ' ')) AS t
      |           FROM documents WHERE doc_id < 10)),
      |qemb AS (SELECT query_id, [$esums] AS qe FROM qdt GROUP BY query_id),
      |qn AS (SELECT query_id, qe,
      |              sqrt(list_sum(list_transform(qe, x -> x*x))) AS qnrm FROM qemb),
      |qasg AS (SELECT query_id, qe, qnrm, qcid FROM (
      |           SELECT q.query_id, q.qe, q.qnrm, c.ccid AS qcid,
      |                  ROW_NUMBER() OVER (PARTITION BY q.query_id
      |                    ORDER BY list_sum(list_transform(list_zip(q.qe, c.ce), x -> x[1]*x[2]))
      |                               / (q.qnrm * c.cnrm) DESC, c.ccid) AS rk
      |           FROM qn q CROSS JOIN cents c) WHERE rk = 1),
      |cand AS (SELECT q.query_id, m.chunk_hash,
      |                CAST(ROUND(1000000.0 *
      |                  list_sum(list_transform(list_zip(m.e, q.qe), x -> x[1]*x[2]))
      |                    / (m.nrm * q.qnrm)) AS BIGINT) AS micro_cos
      |         FROM mem m JOIN qasg q ON m.cid = q.qcid),
      |densedoc AS (SELECT c.query_id, mb.doc_id, MAX(c.micro_cos) AS micro_cos
      |             FROM cand c JOIN memb mb ON c.chunk_hash = mb.chunk_hash
      |             WHERE mb.doc_id <> c.query_id
      |             GROUP BY c.query_id, mb.doc_id),
      |den AS (SELECT query_id, doc_id, dense_rank FROM (
      |          SELECT query_id, doc_id,
      |                 ROW_NUMBER() OVER (PARTITION BY query_id
      |                   ORDER BY micro_cos DESC, doc_id) AS dense_rank
      |          FROM densedoc) WHERE dense_rank <= 5),
      |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
      |             COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |             COALESCE(a.lex_rank, 0) AS lex_rank,
      |             COALESCE(b.dense_rank, 0) AS dense_rank,
      |             (CASE WHEN a.lex_rank IS NOT NULL THEN 1000000 // ($RrfK + a.lex_rank) ELSE 0 END
      |            + CASE WHEN b.dense_rank IS NOT NULL THEN 1000000 // ($RrfK + b.dense_rank) ELSE 0 END) AS rrf_score
      |      FROM lex a FULL OUTER JOIN den b
      |        ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                  ORDER BY rrf_score DESC, doc_id) AS rnk FROM f)
      |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
      |       CAST(lex_rank AS BIGINT) AS lex_rank,
      |       CAST(dense_rank AS BIGINT) AS dense_rank,
      |       CAST(rrf_score AS BIGINT) AS rrf_score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    }) { (s, d) =>
    chunkHybridServed(s, d).orderBy("query_id", "rnk")
  }

  /** The persisted chunk-hybrid rank table, unordered — the artifact read
    * [[chunkHybrid]] serves (with its presentation sort appended) and
    * [[chunkEval]] re-aggregates (where that sort would be a wasted range
    * exchange). */
  private def chunkHybridServed(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "chunk_hybrid") {
      chunkHybridRanks(s, d)
    }

  /** The chunk-hybrid pipeline body — see [[chunkHybrid]]. One build per
    * corpus content; the shared chunk-signature table feeds both legs'
    * indexes from a single materialization. */
  private[graft] def chunkHybridRanks(s: SparkSession, d: String): DataFrame =
    chunkHybridFrom(graft.Tables.documents(s, d))

  /** [[chunkHybridRanks]] over an explicit documents frame (needs doc_id,
    * text; queries = doc_id < 10) — the spec drives tiny fixtures through
    * exactly the production composition. */
  private[graft] def chunkHybridFrom(docs: DataFrame): DataFrame = {
    import graft.Tables.materialize
    // the corpus-scale pass (scan + split + explode) runs ONCE: the
    // hashed chunk table is persisted before memb and sig each consume
    // it — without this, building those two frames evaluates the
    // explode twice (the multiple-consumers materialize discipline)
    val ch = materialize(TrainingData.chunkTexts(docs)
      .select(col("doc_id"), col("chunk_text"),
        md5(col("chunk_text")).as("chunk_hash")))
    val memb = materialize(
      ch.select(col("doc_id"), col("chunk_hash")).distinct())
    val sig = materialize(
      ch.groupBy(col("chunk_hash"))
        .agg(min(col("chunk_text")).as("chunk_text")))
    // --- lexical leg: BM25 over distinct chunks, max-passage to docs ---
    val tok = sig.select(col("chunk_hash"),
      explode(split(col("chunk_text"), " ")).as("tk"))
    val tf = materialize(
      tok.groupBy(col("chunk_hash"), col("tk")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("chunk_hash")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfreq = tf.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val qtok = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("tk"))
      .distinct().filter(length(col("tk")) >= 4)
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("df").desc, col("tk"))
    val qterms = qtok.join(dfreq, Seq("tk"))
      .withColumn("r", row_number().over(qw))
      .filter(col("r") <= 3).select(col("query_id"), col("tk"), col("df"))
    val scoredChunks = tf.join(broadcast(qterms), Seq("tk"))
      .join(dl, Seq("chunk_hash"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("chunk_hash"))
      .agg(sum(TextAnalysis.bm25TermScore).as("s"))
      .select(col("query_id"), col("chunk_hash"),
        round(lit(1000.0) * col("s")).cast("long").as("milli_score"))
    val lexDocs = scoredChunks.join(memb, Seq("chunk_hash"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("milli_score")).as("milli_score"))
    val lexRanked = rankDocs(lexDocs, "milli_score", 10, "lex_rank")
    // --- dense leg: IVF over chunk embeddings, max-passage to docs ---
    val n0 = materialize(Similarity.chunkEmbed(sig))
    val cents = Similarity.centroidArray(n0, 16)
    val mem = Similarity.ivfListsFrom(n0, cents)
      .join(n0.select(col("vec_id"), col("chunk_hash")), Seq("vec_id"))
    // the query embedding goes through the SAME recipe as the indexed
    // chunks — Similarity.embedTokens, not an inline copy
    val qn = Similarity.embedTokens(
        docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"),
            explode(split(col("text"), " ")).as("t")),
        "query_id")
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotProduct(col("e"), col("e"))))
    val qa = Similarity.withCentroidScores(qn, cents)
      .withColumn("best", array_max(col("scored")))
      .select(col("query_id"), col("e").as("qe"), col("nrm").as("qnrm"),
        col("best.cid").as("qcid"))
    val cand = mem.join(broadcast(qa), col("cid") === col("qcid"))
      .select(col("query_id"), col("chunk_hash"),
        round(lit(1000000.0) *
            graft.functions.VectorFunctions.dotProduct(col("e"), col("qe")) /
            (col("nrm") * col("qnrm")))
          .cast("long").as("micro_cos"))
    val denseDocs = cand.join(memb, Seq("chunk_hash"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("micro_cos")).as("micro_cos"))
    val denseRanked = rankDocs(denseDocs, "micro_cos", 5, "dense_rank")
    rrfFuse(lexRanked, denseRanked, topK = 10)
  }

  /** CHUNK-vs-DOC GRAIN EVAL — prices the round's chunk-grain hybrid
    * against the doc-grain one with the SAME metric discipline as
    * [[rrfEval]]: per query, hits / milli-recall / MRR@10 / nDCG@10 for
    * the `retrieval_chunk_hybrid` fused top-10 and the
    * `retrieval_rrf_hybrid` fused top-10, plus the MRR delta — so
    * "max-passage chunk retrieval beats whole-doc retrieval" (the
    * passage-retrieval literature's claim) is a CHECKED number on this
    * corpus, whichever way it lands. Both lists are ~100-row artifact
    * reads; the only corpus-scale touch is the label table, exactly
    * [[rrfEval]]'s shape. The oracle replays BOTH pipelines from the raw
    * tables (the chunk replay via `retrieval_chunk_hybrid`'s own oracle
    * SQL, the doc replay via the two legs' — never the rank artifacts). */
  val chunkEval: QueryDef = QueryDef.sqlDynamic("retrieval_chunk_eval") { (s, d) =>
    val chunkSql = legOracle(chunkHybrid)
    val lexSql = legOracle(graft.operators.TextAnalysis.bm25PerQuery)
    val denSql = legOracleFor(graft.operators.Similarity.knnIvfKmeansQuery, s, d)
    val idcg = s"list_sum(list_transform(generate_series(1, LEAST(relc.n_rel, 10)), i -> ${gain("(i + 1)", duck = true)}))"
    s"""WITH ch AS (SELECT query_id, doc_id, rnk FROM ($chunkSql)),
      |lex0 AS (SELECT query_id, doc_id, rnk AS lex_rank FROM ($lexSql)),
      |den0 AS (SELECT query_id, neighbor_id AS doc_id, rnk AS dense_rank FROM ($denSql)),
      |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
      |             COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |             (CASE WHEN a.lex_rank IS NOT NULL THEN 1000000 // ($RrfK + a.lex_rank) ELSE 0 END
      |            + CASE WHEN b.dense_rank IS NOT NULL THEN 1000000 // ($RrfK + b.dense_rank) ELSE 0 END) AS rrf_score
      |      FROM lex0 a FULL OUTER JOIN den0 b
      |        ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
      |fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |                   ORDER BY rrf_score DESC, doc_id) AS rnk FROM f),
      |doc AS (SELECT query_id, doc_id, rnk FROM fr WHERE rnk <= 10),
      |q AS (SELECT vec_id AS query_id, label AS qlabel FROM embeddings WHERE vec_id < 10),
      |lab AS (SELECT vec_id, label FROM embeddings),
      |relc AS (SELECT q.query_id, COUNT(*) AS n_rel FROM q JOIN lab
      |           ON lab.label = q.qlabel AND lab.vec_id <> q.query_id GROUP BY q.query_id),
      |chh AS (SELECT l.query_id, COUNT(*) AS c, MIN(l.rnk) AS first_rel,
      |               SUM(${gain("(l.rnk + 1)", duck = true)}) AS dcg
      |        FROM ch l JOIN q ON l.query_id = q.query_id
      |          JOIN lab ON lab.vec_id = l.doc_id AND lab.label = q.qlabel GROUP BY l.query_id),
      |doh AS (SELECT l.query_id, COUNT(*) AS c, MIN(l.rnk) AS first_rel,
      |               SUM(${gain("(l.rnk + 1)", duck = true)}) AS dcg
      |        FROM doc l JOIN q ON l.query_id = q.query_id
      |          JOIN lab ON lab.vec_id = l.doc_id AND lab.label = q.qlabel GROUP BY l.query_id)
      |SELECT CAST(q.query_id AS BIGINT) AS query_id,
      |       CAST(relc.n_rel AS BIGINT) AS n_rel,
      |       CAST(COALESCE(chh.c, 0) AS BIGINT) AS chunk_hits,
      |       CAST(COALESCE(doh.c, 0) AS BIGINT) AS doc_hits,
      |       CAST(1000 * COALESCE(chh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS chunk_recall_milli,
      |       CAST(1000 * COALESCE(doh.c, 0) // GREATEST(relc.n_rel, 1) AS BIGINT) AS doc_recall_milli,
      |       CAST(COALESCE(1000 // chh.first_rel, 0) AS BIGINT) AS chunk_mrr_milli,
      |       CAST(COALESCE((1000 * chh.dcg) // $idcg, 0) AS BIGINT) AS chunk_ndcg_milli,
      |       CAST(COALESCE(1000 // doh.first_rel, 0) AS BIGINT) AS doc_mrr_milli,
      |       CAST(COALESCE((1000 * doh.dcg) // $idcg, 0) AS BIGINT) AS doc_ndcg_milli,
      |       CAST(COALESCE(1000 // chh.first_rel, 0) - COALESCE(1000 // doh.first_rel, 0) AS BIGINT)
      |         AS chunk_vs_doc_mrr_delta_milli
      |FROM q JOIN relc ON q.query_id = relc.query_id
      |LEFT JOIN chh ON q.query_id = chh.query_id
      |LEFT JOIN doh ON q.query_id = doh.query_id
      |ORDER BY q.query_id""".stripMargin
  } { (s, d) =>
    // both hybrid lists via their UNORDERED bodies: this query aggregates
    // them immediately, so the hybrids' presentation sorts were two wasted
    // range exchanges (+ boundary-sampling jobs) mid-plan
    val ch = chunkHybridServed(s, d).select(col("query_id"), col("doc_id"),
      col("rnk").cast("long").as("rnk"))
    val doc = docHybridRanksUnordered(s, d).select(col("query_id"), col("doc_id"),
      col("rnk").cast("long").as("rnk"))
    val lab = graft.Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val q = lab.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val relc = lab.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    // one label-lookup pass over the tagged union of the two tiny lists —
    // the rrfEval discipline at two legs
    val tagged = ch.withColumn("leg", lit("chunk"))
      .unionByName(doc.withColumn("leg", lit("doc")))
    def firstRel(leg: String) = min(when(col("leg") === leg, col("rnk")))
    def dcg(leg: String) = sum(when(col("leg") === leg,
      expr(gain("(rnk + 1)", duck = false))).otherwise(0L))
    val hits = lab.join(broadcast(tagged.join(q, Seq("query_id"))),
        col("vec_id") === col("doc_id") && col("label") === col("qlabel"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("leg") === "chunk", 1L).otherwise(0L)).as("chunk_hits"),
        sum(when(col("leg") === "doc", 1L).otherwise(0L)).as("doc_hits"),
        firstRel("chunk").as("ch_first"), dcg("chunk").as("ch_dcg"),
        firstRel("doc").as("do_first"), dcg("doc").as("do_dcg"))
    def ndcgOf(dcgCol: String, out: String) =
      coalesce(expr(s"(1000 * $dcgCol) div " +
          s"aggregate(sequence(cast(1 as bigint), least(n_rel, cast(10 as bigint))), cast(0 as bigint), (acc, i) -> acc + ${gain("(i + 1)", duck = false)})"),
        lit(0L)).as(out)
    q.select(col("query_id"))
      .join(relc, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("chunk_hits"), lit(0L)).as("chunk_hits"),
        coalesce(col("doc_hits"), lit(0L)).as("doc_hits"),
        col("ch_first"), coalesce(col("ch_dcg"), lit(0L)).as("ch_dcg"),
        col("do_first"), coalesce(col("do_dcg"), lit(0L)).as("do_dcg"))
      .select(col("query_id"), col("n_rel"), col("chunk_hits"), col("doc_hits"),
        expr("1000 * chunk_hits div greatest(n_rel, 1)").as("chunk_recall_milli"),
        expr("1000 * doc_hits div greatest(n_rel, 1)").as("doc_recall_milli"),
        coalesce(expr("1000 div ch_first"), lit(0L)).as("chunk_mrr_milli"),
        ndcgOf("ch_dcg", "chunk_ndcg_milli"),
        coalesce(expr("1000 div do_first"), lit(0L)).as("doc_mrr_milli"),
        ndcgOf("do_dcg", "doc_ndcg_milli"),
        (coalesce(expr("1000 div ch_first"), lit(0L)) -
          coalesce(expr("1000 div do_first"), lit(0L)))
          .as("chunk_vs_doc_mrr_delta_milli"))
      .orderBy("query_id")
  }

  /** RM3-STYLE PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio'71 →
    * Lavrenko & Croft SIGIR'01; the RM3 interpolated form of Abdul-Jaleel
    * et al., TREC'04 — the standard "one weird trick" of lexical
    * retrieval): run the query, ASSUME the top-10 are relevant, mine them
    * for the terms that characterize them, and rerun the query with those
    * terms added at reduced weight. Vocabulary-mismatch repair with no
    * model: a query about "automobiles" learns "cars" from its own first
    * pass.
    *
    * Composition (integer-discipline throughout, fully DuckDB-oracled):
    * - PASS 1 is EXACTLY `text_bm25_perquery`'s ranking (same artifacts,
    *   same term derivation via [[TextAnalysis.bm25QueryTerms]]); the
    *   feedback set F_q = its top-10 docs.
    * - TERM SELECTION: every length ≥ 4 token of F_q not already a query
    *   term, scored by Robertson's offer weight tf_F × idf (total tf in
    *   the feedback docs × the same BM25 idf), milli-rounded to an
    *   integer; top-3 per query (weight DESC, token ASC).
    * - PASS 2: original terms at weight 1.0, expansion terms at 0.4 (the
    *   RM3 interpolation posture); score = Σ w·bm25TermScore over the
    *   SAME shared expression; milli-rounded; top-10 per query through
    *   the bounded-heap [[graft.plans.TopKPerGroup]] tail, ranks rebuilt
    *   without a window.
    *
    * Shape at 100 TB: both passes read the train-once BM25 index
    * artifacts; the feedback mining touches only the |queries|·10
    * feedback docs' rows of the term table (doc-keyed join); term
    * selection windows over a feedback-set-sized frame; pass-2 scoring is
    * the same term-keyed probe as pass 1 with a ≤ 6-term-per-query
    * broadcast. No corpus pass beyond the artifacts' one-time build. */
  val rm3Expansion: QueryDef = QueryDef.sql(
    "retrieval_rm3_expansion",
    """WITH t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS tk FROM t),
      |dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS MATERIALIZED (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |dfreq AS MATERIALIZED (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tk),
      |qtok AS (SELECT DISTINCT doc_id AS query_id, tk FROM tok
      |         WHERE doc_id < 10 AND length(tk) >= 4),
      |qterms AS MATERIALIZED (SELECT query_id, tk, df FROM (
      |            SELECT q.query_id, q.tk, dfreq.df,
      |                   ROW_NUMBER() OVER (PARTITION BY q.query_id
      |                     ORDER BY dfreq.df DESC, q.tk) AS r
      |            FROM qtok q JOIN dfreq ON q.tk = dfreq.tk) WHERE r <= 3),
      |tf1 AS MATERIALIZED (SELECT tok.doc_id, tok.tk, COUNT(*) AS tf
      |       FROM tok JOIN (SELECT DISTINCT tk FROM qterms) qt ON tok.tk = qt.tk
      |       GROUP BY tok.doc_id, tok.tk),
      |scored1 AS (SELECT qterms.query_id, tf1.doc_id,
      |        SUM( ln((CAST(stats.n_docs - qterms.df AS DOUBLE) + 0.5)
      |                / (CAST(qterms.df AS DOUBLE) + 0.5) + 1.0)
      |             * (CAST(tf1.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |             / (CAST(tf1.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                   * CAST(dl.dl * stats.n_docs AS DOUBLE)
      |                   / CAST(stats.sum_dl AS DOUBLE))) ) AS s
      |        FROM tf1 JOIN qterms ON tf1.tk = qterms.tk
      |             JOIN dl ON tf1.doc_id = dl.doc_id CROSS JOIN stats
      |        WHERE tf1.doc_id <> qterms.query_id
      |        GROUP BY qterms.query_id, tf1.doc_id),
      |fb AS MATERIALIZED (SELECT query_id, doc_id FROM (
      |      SELECT query_id, doc_id,
      |             ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY CAST(ROUND(1000.0 * s) AS BIGINT) DESC, doc_id) AS rnk
      |      FROM scored1) WHERE rnk <= 10),
      |ftf AS (SELECT tok.doc_id, tok.tk, COUNT(*) AS tf FROM tok
      |        WHERE length(tok.tk) >= 4 GROUP BY tok.doc_id, tok.tk),
      |cand AS (SELECT fb.query_id, ftf.tk, SUM(ftf.tf) AS tff
      |         FROM ftf JOIN fb ON ftf.doc_id = fb.doc_id
      |         WHERE NOT EXISTS (SELECT 1 FROM qterms q
      |                           WHERE q.query_id = fb.query_id AND q.tk = ftf.tk)
      |         GROUP BY fb.query_id, ftf.tk),
      |expw AS (SELECT query_id, tk, df FROM (
      |          SELECT c.query_id, c.tk, dfreq.df,
      |                 ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
      |                   CAST(ROUND(1000.0 * CAST(c.tff AS DOUBLE)
      |                     * ln((CAST(stats.n_docs - dfreq.df AS DOUBLE) + 0.5)
      |                          / (CAST(dfreq.df AS DOUBLE) + 0.5) + 1.0)) AS BIGINT) DESC,
      |                   c.tk) AS r
      |          FROM cand c JOIN dfreq ON c.tk = dfreq.tk CROSS JOIN stats) WHERE r <= 3),
      |allterms AS MATERIALIZED (
      |  SELECT query_id, tk, df, CAST(1.0 AS DOUBLE) AS wq FROM qterms
      |  UNION ALL SELECT query_id, tk, df, CAST(0.4 AS DOUBLE) FROM expw),
      |tf2 AS MATERIALIZED (SELECT tok.doc_id, tok.tk, COUNT(*) AS tf
      |       FROM tok JOIN (SELECT DISTINCT tk FROM allterms) at2 ON tok.tk = at2.tk
      |       GROUP BY tok.doc_id, tok.tk),
      |scored2 AS (SELECT a.query_id, tf2.doc_id,
      |        SUM( a.wq * ln((CAST(stats.n_docs - a.df AS DOUBLE) + 0.5)
      |                / (CAST(a.df AS DOUBLE) + 0.5) + 1.0)
      |             * (CAST(tf2.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |             / (CAST(tf2.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                   * CAST(dl.dl * stats.n_docs AS DOUBLE)
      |                   / CAST(stats.sum_dl AS DOUBLE))) ) AS s
      |        FROM tf2 JOIN allterms a ON tf2.tk = a.tk
      |             JOIN dl ON tf2.doc_id = dl.doc_id CROSS JOIN stats
      |        WHERE tf2.doc_id <> a.query_id
      |        GROUP BY a.query_id, tf2.doc_id),
      |r AS (SELECT query_id, doc_id,
      |             CAST(ROUND(1000.0 * s) AS BIGINT) AS milli_score,
      |             ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY CAST(ROUND(1000.0 * s) AS BIGINT) DESC, doc_id) AS rnk
      |      FROM scored2)
      |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
      |       milli_score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    // the expanded rank table is deterministic from corpus content — it
    // serves as a content-keyed artifact like the other retrieval rank
    // tables, while the oracle replays BOTH passes from raw documents
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "rm3_ranks") {
      rm3ExpansionRanks(s, d)
    }.orderBy("query_id", "rnk")
  }

  /** [[rm3Expansion]]'s body — the two-pass composition over the BM25
    * index artifacts. */
  private[graft] def rm3ExpansionRanks(s: SparkSession, d: String): DataFrame = {
    val terms = TextAnalysis.bm25Terms(s, d)
    val stats = TextAnalysis.bm25Stats(s, d)
    val qterms = TextAnalysis.bm25QueryTerms(s, d)
    val allTerms = qterms.withColumn("wq", lit(1.0))
      .unionByName(rm3ExpansionTerms(s, d).withColumn("wq", lit(0.4)))
    val scored = terms.join(broadcast(allTerms), Seq("tk"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      // the weight multiplies INSIDE the shared expression (idf first) —
      // the oracle's left-associative shape, see bm25TermScoreWeighted
      .agg(sum(TextAnalysis.bm25TermScoreWeighted(col("wq"))).as("s"))
      .select(col("query_id"), col("doc_id"),
        round(lit(1000.0) * col("s")).cast("long").as("milli_score"))
    rankDocs(scored, "milli_score", 10, "rnk", keepScore = true)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"),
        col("milli_score"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** The expansion-term selection of [[rm3Expansion]]: top-3 feedback
    * terms per query by milli-rounded offer weight (tf_F × idf), original
    * query terms excluded — exposed so the spec can replay the selection
    * with exact integer arithmetic. Returns (query_id, tk, df). */
  private[graft] def rm3ExpansionTerms(s: SparkSession, d: String): DataFrame = {
    val terms = TextAnalysis.bm25Terms(s, d)
    val dfreq = TextAnalysis.bm25Df(s, d)
    val stats = TextAnalysis.bm25Stats(s, d)
    val qterms = TextAnalysis.bm25QueryTerms(s, d)
    // pass 1 IS text_bm25_perquery's ranking; feedback = its top-10
    val fb = TextAnalysis.bm25PerQuery.run(s, d).filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"))
    // offer weight tf_F × idf, milli-rounded — the term-selection rank is
    // an integer comparison, never a raw-double ordering
    val idf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val cand = terms.join(fb, Seq("doc_id"))
      .filter(length(col("tk")) >= 4)
      .join(qterms.select(col("query_id"), col("tk")),
        Seq("query_id", "tk"), "left_anti")
      .groupBy(col("query_id"), col("tk"))
      .agg(sum(col("tf")).as("tff"))
      .join(dfreq, Seq("tk"))
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .withColumn("ow",
        round(lit(1000.0) * col("tff").cast("double") * idf).cast("long"))
    val ew = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ow").desc, col("tk"))
    cand.withColumn("r", row_number().over(ew))
      .filter(col("r") <= 3).select(col("query_id"), col("tk"), col("df"))
  }

  val all: Seq[QueryDef] = Seq(rrfHybrid, rrfEval, chunkHybrid, chunkEval, rm3Expansion)
}
