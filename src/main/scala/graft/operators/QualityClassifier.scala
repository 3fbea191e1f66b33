package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Trained (model-based) quality classification — the third leg of the
  * published quality-filtering triad, alongside the heuristic signals
  * ([[TextAnalysis.quality]]) and the LM-statistical scores
  * ([[TextAnalysis]]'s perplexity/novelty family). Real pipelines
  * (fastText-style classifiers in the CCNet/LLaMA lineage; GPT-3's
  * WebText-vs-Common-Crawl logistic regression) TRAIN a model on labeled
  * good/bad splits and score the rest of the corpus with it. This module is
  * that shape end to end as one relational pipeline: a deterministic
  * train/eval split, bootstrap labels from a cheap heuristic on the train
  * slice, a multinomial naive Bayes fit as two aggregations, and a
  * broadcast-join scoring pass — all in exact integer arithmetic, so the
  * whole train+score run is DuckDB-replayable and hash-compared, not
  * self-reported.
  *
  * Exactness discipline: naive Bayes needs log-probabilities, and libm
  * `ln` is the classic cross-engine hash breaker (two libms rounding the
  * last bit differently). Instead every log goes through [[ml2]] — a
  * piecewise-linear fixed-point log2 in milli-units, `1000·⌊log2 x⌋ +
  * (x−2^e)·1000 div 2^e` — which is an exact integer-valued function of an
  * integer (the standard "integer log" construction: exponent from the
  * bit length, fraction by linear interpolation within the octave). It is
  * monotonic, agrees with log2 at every power of two, and errs below
  * true log2 by at most ~86 milli-units mid-octave — a constant-factor
  * wobble on every weight that nudges the decision boundary, not a
  * correctness hazard, in exchange for bit-identical scores in any
  * engine. Both the Spark plan and the DuckDB oracle render the SAME
  * formula (one builder, two dialect spellings), so they cannot drift.
  *
  * Model: multinomial NB with add-one smoothing. Per train-vocabulary
  * token, weight = ml2(c_good+1) − ml2(c_bad+1); per document,
  *   score = Σ_token weight + n_tokens·(ml2(T_bad+V) − ml2(T_good+V))
  *           + ml2(N_good+1) − ml2(N_bad+1)
  * (the usual per-token normalizer folded into one per-doc linear term,
  * smoothed priors); predict good iff score ≥ 0. Out-of-vocabulary tokens
  * contribute exactly 0 — with add-one smoothing both class likelihoods
  * collapse to the same smoothed mass, so the COALESCE(0) on the scoring
  * join's miss side IS the model's answer, not an approximation.
  *
  * Bootstrap labels: good iff the train document's stopword ratio is at
  * most [[StopThresholdMilli]] — the C4-lineage heuristic (stopword
  * density separates running prose from keyword soup), computed with the
  * same stopword list as `text_quality_score` and the same exact
  * floor-div milli-ratio. Distilling a heuristic into a token-level model
  * is precisely what the published classifiers do (label by source or
  * rule, train, generalize); here it also makes the labels replayable.
  * QualityClassifierSpec pins that the model actually LEARNED the signal
  * (eval accuracy well above the majority-class rate) — the table-stakes
  * check that this is a classifier, not a constant.
  *
  * Split: the same md5-keyed deterministic draw as the sampling family
  * ([[ApproxAndSample.draw]], 90% train) — re-runs and repartitions cannot
  * move a document across the split, so the eval set stays honest under
  * incremental reprocessing.
  *
  * Scale shape (100 TB): training is one token explode into a map-side-
  * combined groupBy(token) — the model is VOCABULARY-sized, not
  * corpus-sized, and every global constant (T, V, N) is a one-row
  * aggregate over that table. Scoring broadcasts the vocab-sized weight
  * table to a second explode and reduces per doc_id — no shuffle is ever
  * keyed coarser than doc_id, and the only materialized intermediate is
  * the vocabulary count table feeding its two consumers (weights +
  * totals). At 100 TB the weight table still fits an executor (vocab
  * grows sublinearly); nothing else is corpus²-shaped. */
object QualityClassifier {

  /** Stopword list shared (by value) with `text_quality_score` — the
    * corpus's four function-word stand-ins. */
  private val StopWords = Seq("the", "a", "value", "key")

  /** Label threshold: good iff `(1000·n_stop) div n_tokens ≤ 125` — the
    * corpus median stopword milli-ratio, splitting train into balanced
    * classes (measured ~49/51 at sf0.01). */
  private val StopThresholdMilli = 125

  private val TrainHex = ApproxAndSample.hexThreshold(0.90)

  /** The fixed-point milli-log2 — ONE formula, rendered into either
    * dialect. `x` must be an expression evaluating to a positive BIGINT;
    * exponent via the binary-string length (exact, no libm), fraction by
    * linear interpolation within the octave in floor-div milli-units.
    * Shared with [[TrainingData]]'s drift monitor (`private[operators]`) —
    * every integer-log in the engine goes through this one builder. */
  private[operators] def ml2(x: String, duck: Boolean): String = {
    val e = s"(length(bin($x)) - 1)"
    val p =
      if (duck) s"(1::BIGINT << $e)"
      else s"shiftleft(cast(1 as bigint), $e)"
    val d = if (duck) "//" else "div"
    s"(1000 * $e + (($x - $p) * 1000) $d $p)"
  }

  /** Exact integer floor-division as a Column, for composed-predicate
    * contexts ([[TextAnalysis.gopherKeepCol]]) where `expr("a div b")`
    * cannot reach the anonymous operand expressions. `(a - pmod(a, b)) / b`
    * divides an exact multiple: IEEE division is correctly rounded, and an
    * integer quotient < 2⁵³ is exactly representable, so the cast-back is
    * exact — identical to `div` for the non-negative operands every caller
    * feeds it. Exactness bound: `a < 2⁵³` (here a ≤ 1000·count — holds for
    * any per-document count below ~9·10⁹, far past any document's size). */
  private[operators] def idivCol(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** The per-doc linear term + priors, shared by score and prediction. */
  private def scoreExpr(duck: Boolean): String =
    s"tok_score + nt * (${ml2("(tb + v)", duck)} - ${ml2("(tg + v)", duck)})" +
      s" + (${ml2("ng1", duck)} - ${ml2("nb1", duck)})"

  /** Shared oracle prefix: split, labels, fit (counts / totals / priors /
    * weights), and the per-doc token-score sum for either the eval slice
    * (`scoreAll = false`) or the WHOLE corpus (`scoreAll = true` — the
    * filter's production posture: the model scores everything, its own
    * train slice included). One string builder, so the two queries'
    * oracles cannot drift from each other. */
  private def oracleCtes(scoreAll: Boolean, textExpr: String = "text"): String = {
    val evScope = if (scoreAll) "" else " WHERE split='eval'"
    s"""WITH s AS (SELECT doc_id, string_split($textExpr,' ') AS w,
       |                  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,8) < '$TrainHex'
       |                       THEN 'train' ELSE 'eval' END AS split
       |           FROM documents),
       |lab AS (SELECT doc_id, w, len(w) AS nt, split,
       |               CASE WHEN (1000 * len(list_filter(w, x -> x IN ('the','a','value','key')))) // len(w) <= $StopThresholdMilli
       |                    THEN 1 ELSE 0 END AS label
       |        FROM s),
       |tok AS (SELECT doc_id, label, split, unnest(w) AS t FROM lab),
       |cnt AS (SELECT t, SUM(CASE WHEN label=1 THEN 1 ELSE 0 END)::BIGINT AS cg,
       |               SUM(CASE WHEN label=0 THEN 1 ELSE 0 END)::BIGINT AS cb
       |        FROM tok WHERE split='train' GROUP BY t),
       |tot AS (SELECT SUM(cg)::BIGINT AS tg, SUM(cb)::BIGINT AS tb, COUNT(*)::BIGINT AS v FROM cnt),
       |pri AS (SELECT SUM(CASE WHEN label=1 THEN 1 ELSE 0 END)::BIGINT + 1 AS ng1,
       |               SUM(CASE WHEN label=0 THEN 1 ELSE 0 END)::BIGINT + 1 AS nb1
       |        FROM lab WHERE split='train'),
       |w8 AS (SELECT t, ${ml2("(cg + 1)", duck = true)} - ${ml2("(cb + 1)", duck = true)} AS wgt FROM cnt),
       |ev AS (SELECT doc_id, unnest(w) AS t FROM lab$evScope),
       |sc AS (SELECT ev.doc_id, SUM(COALESCE(w8.wgt, 0))::BIGINT AS tok_score
       |       FROM ev LEFT JOIN w8 ON ev.t = w8.t GROUP BY ev.doc_id)""".stripMargin
  }

  /** Documents with split assignment and bootstrap label — the Spark
    * counterpart of the oracle's `lab` CTE. */
  private def labeledDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    labeledFrom(Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w")))

  /** [[labeledDocs]] over an arbitrary pre-tokenized (doc_id, w) table —
    * the report composes the fit over CLEANED tokens. */
  private def labeledFrom(tok: org.apache.spark.sql.DataFrame) =
    tok
      .withColumn("nt", size(col("w")).cast("long"))
      .withColumn("nstop",
        size(filter(col("w"), x => x.isin(StopWords: _*))).cast("long"))
      .withColumn("split",
        when(ApproxAndSample.draw(col("doc_id")) < lit(TrainHex), lit("train"))
          .otherwise(lit("eval")))
      .withColumn("label",
        when(expr("(1000 * nstop) div nt") <= StopThresholdMilli, lit(1L))
          .otherwise(lit(0L)))

  /** The NB fit as a TRAIN-ONCE PERSISTED artifact pair (the ANN-family
    * codebook pattern, verdict r11 item 1): `nbw_<tag>` is the
    * vocabulary-sized weight table (t, cg, cb, wgt), `nbm_<tag>` the 1-row
    * scalar pack (tg, tb, v, ng1, nb1). Six registered queries consume the
    * raw-text fit and one the cleaned-text fit; without persistence each
    * paid the full train-slice token explode + groupBy per run. The fit is
    * a deterministic function of the corpus (md5 split, exact-integer
    * weights), so the retrain-from-scratch DuckDB oracles stay valid — and
    * are the STRONGER check: they verify the served artifact equals a
    * fresh fit, not merely that scoring replays. Staleness/crash/race
    * handling is [[graft.sources.ModelStore]]'s, keyed on documents
    * content. */
  private def nbFit(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String, labeled: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    lazy val lab = labeled
    val weights = graft.sources.ModelStore.getOrBuild(s, d,
        "documents.parquet", s"nbw_$tag") {
      Tables.fanOut(lab.filter(col("split") === "train"))
        .select(col("label"), explode(col("w")).as("t"))
        .groupBy(col("t"))
        .agg(sum(when(col("label") === 1, 1L).otherwise(0L)).as("cg"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("cb"))
        .withColumn("wgt",
          expr(s"${ml2("(cg + 1)", duck = false)} - ${ml2("(cb + 1)", duck = false)}"))
    }
    val meta = graft.sources.ModelStore.getOrBuild(s, d,
        "documents.parquet", s"nbm_$tag") {
      // totals fall out of the (already persisted) weight table; only the
      // smoothed priors need the labeled docs again
      weights.agg(sum(col("cg")).as("tg"), sum(col("cb")).as("tb"),
          count(lit(1)).as("v"))
        // broadcast-hinted even though both sides are 1-row aggregates: the
        // hint keeps this out of any future unhinted-crossJoin sweep and
        // pins the plan to BroadcastNestedLoopJoin regardless of AQE's
        // stats at scale (the guarded baselines at Similarity.scala:222,400
        // stay the only deliberately unhinted cartesians in the repo)
        .crossJoin(broadcast(lab.filter(col("split") === "train")
          .agg((sum(when(col("label") === 1, 1L).otherwise(0L)) + 1).as("ng1"),
            (sum(when(col("label") === 0, 1L).otherwise(0L)) + 1).as("nb1"))))
    }
    (weights, meta)
  }

  /** The FULL-CORPUS per-doc score table (doc_id, nt, score_milli) as the
    * third persisted artifact (`nbs_<tag>`): production pipelines score
    * the corpus once and every downstream consumer (filter, eval report,
    * calibration, ensemble vote) reads the score column — so the engine
    * serves all five registered consumers of the raw fit from one scoring
    * pass instead of re-exploding tokens per query. Scoring is per-doc
    * independent, so consumers that only need the eval slice filter the
    * artifact to it (identical rows to scoring the slice directly).
    * Scoring broadcasts the vocab-sized weight table to the token
    * explode, with OOV misses coalescing to the model's exact 0;
    * `labeled` is only forced on the first run per corpus content. */
  private def nbScoreAll(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String, labeled: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    lazy val lab = labeled
    graft.sources.ModelStore.getOrBuild(s, d,
        "documents.parquet", s"nbs_$tag") {
      nbScoreFresh(s, d, tag, lab)
    }
  }

  /** The SCORING PASS itself, never cached: broadcast the trained weight
    * table (still a train-once artifact — the model is the write-once
    * product) over the corpus token explode and score every document.
    * `curation_classifier_filter` serves from THIS path so the NB family
    * keeps a fresh-benched representative (r18 VERDICT invariant: a
    * family's last fresh row is never artifact-served — the other five NB
    * consumers read the `nbs_<tag>` cache and declare that row as their
    * twin in [[graft.ArtifactTwins]]). */
  private def nbScoreFresh(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String, labeled: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    lazy val lab = labeled
    val (weights, meta) = nbFit(s, d, tag, lab)
    val tokScores = Tables.fanOut(lab)
      .select(col("doc_id"), explode(col("w")).as("t"))
      .join(broadcast(weights.select(col("t"), col("wgt"))), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("wgt"), lit(0L))).as("tok_score"))
    lab.select(col("doc_id"), col("nt"))
      .join(tokScores, Seq("doc_id"))
      .crossJoin(broadcast(meta))
      .withColumn("score_milli", expr(scoreExpr(duck = false)).cast("long"))
      .select(col("doc_id"), col("nt"), col("score_milli"))
  }

  val nbClassify: QueryDef = QueryDef.sql(
    "quality_nb_classify",
    s"""${oracleCtes(scoreAll = false)}
       |SELECT l.doc_id,
       |       CAST(l.nt AS BIGINT) AS n_tokens,
       |       CAST(l.label AS BIGINT) AS label,
       |       CAST(${scoreExpr(duck = true)} AS BIGINT) AS score_milli,
       |       CAST(CASE WHEN ${scoreExpr(duck = true)} >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
       |FROM lab l JOIN sc ON l.doc_id = sc.doc_id CROSS JOIN tot CROSS JOIN pri
       |WHERE l.split = 'eval'
       |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
    val labeled = labeledDocs(s, d)
    nbScoreAll(s, d, "raw", labeled)
      .join(labeled.select(col("doc_id"), col("label"), col("split")), Seq("doc_id"))
      .filter(col("split") === "eval")
      .select(col("doc_id"), col("nt").as("n_tokens"), col("label"),
        col("score_milli"),
        when(col("score_milli") >= 0, 1L).otherwise(0L).as("predicted"))
      .orderBy("doc_id")
  }

  /** The classifier REALIZED as the curation action — score the WHOLE
    * corpus (train slice included; the model is a deterministic function of
    * the data, so this is replayable) and keep the documents it predicts
    * good, the fastText-filter step of published pipelines rather than just
    * its eval report. Same fit, same broadcast scoring pass; the keep
    * decision is `score ≥ 0` on the exact integer score, so the kept set is
    * hash-compared against the oracle replaying the identical train+score.
    * Per kept doc: id, source (for downstream mixture steps), token count,
    * and the score — the columns the next pipeline stage actually needs. */
  val classifierFilter: QueryDef = QueryDef.sql(
    "curation_classifier_filter",
    s"""${oracleCtes(scoreAll = true)}
       |SELECT l.doc_id, d.source,
       |       CAST(l.nt AS BIGINT) AS n_tokens,
       |       CAST(${scoreExpr(duck = true)} AS BIGINT) AS score_milli
       |FROM lab l JOIN sc ON l.doc_id = sc.doc_id
       |JOIN documents d ON d.doc_id = l.doc_id
       |CROSS JOIN tot CROSS JOIN pri
       |WHERE ${scoreExpr(duck = true)} >= 0
       |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
    // FRESH scoring pass, deliberately NOT the nbs cache: this row is the
    // NB family's fresh-benched representative (see [[nbScoreFresh]])
    nbScoreFresh(s, d, "raw", labeledDocs(s, d))
      .filter(col("score_milli") >= 0)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("nt").as("n_tokens"),
        col("score_milli"))
      .orderBy("doc_id")
  }

  /** Incremental model maintenance — the classifier's member of the
    * cross-snapshot incremental family (exact/jaccard/minhash/semantic/
    * span/df stores all have one; a trained model needs one too, or every
    * new snapshot pays a full retrain). Naive Bayes makes it exact: the
    * model IS its sufficient statistics — per-token per-class counts —
    * and counts are ADDITIVE, so yesterday's model plus today's batch
    * counts equals a full retrain bit-for-bit, not approximately. The
    * history count store persists through the real bucketed write path
    * (bucketed on the term, like the df store); a batch contributes only
    * its own O(batch tokens) aggregation, and the merge is a full-outer
    * join the store enters IN PLACE. The refreshed per-token weight
    * (ml2(cg+1) − ml2(cb+1) on the MERGED counts) falls straight out of
    * the join's projection — zero extra scans to re-derive the model.
    * Emits hist/batch splits, totals, a new-term flag, and the refreshed
    * weight so the oracle pins every cell; daily cost at 100 TB is the
    * day's tokens plus a vocabulary-sized join, never the corpus. */
  val nbIncremental: QueryDef = QueryDef.sql(
    "quality_nb_incremental",
    s"""WITH s AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |lab AS (SELECT doc_id, w,
       |               CASE WHEN (1000 * len(list_filter(w, x -> x IN ('the','a','value','key')))) // len(w) <= $StopThresholdMilli
       |                    THEN 1 ELSE 0 END AS label
       |        FROM s),
       |tok AS (SELECT doc_id, label, unnest(w) AS t FROM lab),
       |h AS (SELECT t, SUM(CASE WHEN label=1 THEN 1 ELSE 0 END)::BIGINT AS cg_hist,
       |             SUM(CASE WHEN label=0 THEN 1 ELSE 0 END)::BIGINT AS cb_hist
       |      FROM tok WHERE doc_id % 10 < 8 GROUP BY t),
       |b AS (SELECT t, SUM(CASE WHEN label=1 THEN 1 ELSE 0 END)::BIGINT AS cg_batch,
       |             SUM(CASE WHEN label=0 THEN 1 ELSE 0 END)::BIGINT AS cb_batch
       |      FROM tok WHERE doc_id % 10 >= 8 GROUP BY t),
       |m AS (SELECT COALESCE(h.t, b.t) AS term,
       |             COALESCE(h.cg_hist, 0) AS cg_hist, COALESCE(h.cb_hist, 0) AS cb_hist,
       |             COALESCE(b.cg_batch, 0) AS cg_batch, COALESCE(b.cb_batch, 0) AS cb_batch,
       |             COALESCE(h.cg_hist, 0) + COALESCE(b.cg_batch, 0) AS cg_total,
       |             COALESCE(h.cb_hist, 0) + COALESCE(b.cb_batch, 0) AS cb_total,
       |             h.t IS NULL AS is_new_term
       |      FROM h FULL OUTER JOIN b ON h.t = b.t)
       |SELECT term, CAST(cg_hist AS BIGINT) AS cg_hist, CAST(cb_hist AS BIGINT) AS cb_hist,
       |       CAST(cg_batch AS BIGINT) AS cg_batch, CAST(cb_batch AS BIGINT) AS cb_batch,
       |       CAST(cg_total AS BIGINT) AS cg_total, CAST(cb_total AS BIGINT) AS cb_total,
       |       is_new_term,
       |       CAST(${ml2("(cg_total + 1)", duck = true)} - ${ml2("(cb_total + 1)", duck = true)} AS BIGINT) AS weight_milli
       |FROM m ORDER BY term""".stripMargin) { (s, d) =>
    val lab = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("nt", size(col("w")).cast("long"))
      .withColumn("nstop",
        size(filter(col("w"), x => x.isin(StopWords: _*))).cast("long"))
      .withColumn("label",
        when(expr("(1000 * nstop) div nt") <= StopThresholdMilli, lit(1L))
          .otherwise(lit(0L)))
    def countsOf(part: org.apache.spark.sql.DataFrame) = Tables.fanOut(part)
      .select(col("label"), explode(col("w")).as("t"))
      .groupBy(col("t"))
      .agg(sum(when(col("label") === 1, 1L).otherwise(0L)).as("cg"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("cb"))
    val store = graft.sources.ModelStore.table(s, d, "documents.parquet",
        "nb_store", Some("t")) {
      countsOf(lab.filter(col("doc_id") % 10 < 8))
        .withColumnRenamed("cg", "cg_hist").withColumnRenamed("cb", "cb_hist")
    }
    val batch = countsOf(lab.filter(col("doc_id") % 10 >= 8))
      .withColumnRenamed("cg", "cg_batch").withColumnRenamed("cb", "cb_batch")
    store.withColumnRenamed("t", "ht")
      .join(batch, col("ht") === col("t"), "full_outer")
      .select(coalesce(col("ht"), col("t")).as("term"),
        coalesce(col("cg_hist"), lit(0L)).cast("long").as("cg_hist"),
        coalesce(col("cb_hist"), lit(0L)).cast("long").as("cb_hist"),
        coalesce(col("cg_batch"), lit(0L)).cast("long").as("cg_batch"),
        coalesce(col("cb_batch"), lit(0L)).cast("long").as("cb_batch"),
        (coalesce(col("cg_hist"), lit(0L)) + coalesce(col("cg_batch"), lit(0L)))
          .cast("long").as("cg_total"),
        (coalesce(col("cb_hist"), lit(0L)) + coalesce(col("cb_batch"), lit(0L)))
          .cast("long").as("cb_total"),
        col("ht").isNull.as("is_new_term"))
      .withColumn("weight_milli",
        expr(s"${ml2("(cg_total + 1)", duck = false)} - ${ml2("(cb_total + 1)", duck = false)}")
          .cast("long"))
      .orderBy("term")
  }

  /** Model EVALUATION — the confusion matrix and derived metrics on the
    * held-out slice, the report every published classifier-filter pipeline
    * ships next to the model (you don't deploy a filter whose precision
    * you haven't measured). Reuses the identical train+score pipeline as
    * [[nbClassify]] and reduces it to one row of exact integers: the four
    * confusion cells plus milli accuracy / precision / recall / F1
    * (F1 = 2·tp div (2·tp+fp+fn) — the integer-exact form, no float
    * harmonic mean) and the majority-class baseline accuracy, so "did the
    * model beat predicting the constant?" is answered IN the artifact,
    * not just in a spec. Zero-denominator cells report 0 rather than
    * erroring on a degenerate split. Scale shape: everything after the
    * scoring join is a single 1-row aggregate. */
  val nbEval: QueryDef = QueryDef.sql(
    "quality_nb_eval",
    s"""${oracleCtes(scoreAll = false)},
       |cls AS (SELECT l.label,
       |               CASE WHEN ${scoreExpr(duck = true)} >= 0 THEN 1 ELSE 0 END AS pred
       |        FROM lab l JOIN sc ON l.doc_id = sc.doc_id
       |        CROSS JOIN tot CROSS JOIN pri
       |        WHERE l.split = 'eval'),
       |cm AS (SELECT
       |         SUM(CASE WHEN label=1 AND pred=1 THEN 1 ELSE 0 END)::BIGINT AS tp,
       |         SUM(CASE WHEN label=0 AND pred=1 THEN 1 ELSE 0 END)::BIGINT AS fp,
       |         SUM(CASE WHEN label=1 AND pred=0 THEN 1 ELSE 0 END)::BIGINT AS fn,
       |         SUM(CASE WHEN label=0 AND pred=0 THEN 1 ELSE 0 END)::BIGINT AS tn
       |       FROM cls)
       |SELECT tp, fp, fn, tn,
       |       CAST(1000*(tp+tn) // (tp+fp+fn+tn) AS BIGINT) AS accuracy_milli,
       |       CAST(CASE WHEN tp+fp > 0 THEN 1000*tp // (tp+fp) ELSE 0 END AS BIGINT) AS precision_milli,
       |       CAST(CASE WHEN tp+fn > 0 THEN 1000*tp // (tp+fn) ELSE 0 END AS BIGINT) AS recall_milli,
       |       CAST(CASE WHEN 2*tp+fp+fn > 0 THEN 2000*tp // (2*tp+fp+fn) ELSE 0 END AS BIGINT) AS f1_milli,
       |       CAST(1000*GREATEST(tp+fn, fp+tn) // (tp+fp+fn+tn) AS BIGINT) AS baseline_milli
       |FROM cm""".stripMargin) { (s, d) =>
    val labeled = labeledDocs(s, d)
    val cls = nbScoreAll(s, d, "raw", labeled)
      .join(labeled.select(col("doc_id"), col("label"), col("split")), Seq("doc_id"))
      .filter(col("split") === "eval")
      .select(col("label"),
        when(col("score_milli") >= 0, 1L).otherwise(0L).as("pred"))
    cls.agg(
      sum(when(col("label") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("label") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(col("label") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("fn"),
      sum(when(col("label") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        expr("1000*(tp+tn) div (tp+fp+fn+tn)").cast("long").as("accuracy_milli"),
        when(col("tp") + col("fp") > 0, expr("1000*tp div (tp+fp)"))
          .otherwise(0L).cast("long").as("precision_milli"),
        when(col("tp") + col("fn") > 0, expr("1000*tp div (tp+fn)"))
          .otherwise(0L).cast("long").as("recall_milli"),
        when(expr("2*tp+fp+fn") > 0, expr("2000*tp div (2*tp+fp+fn)"))
          .otherwise(0L).cast("long").as("f1_milli"),
        expr("1000*greatest(tp+fn, fp+tn) div (tp+fp+fn+tn)").cast("long")
          .as("baseline_milli"))
  }

  /** Oracle CTEs ending in `k(label, score, bin)`: the replay of
    * [[binnedEvalScores]]. */
  private val binnedEvalSql: String =
    s"""${oracleCtes(scoreAll = false)},
       |r AS (SELECT l.label, ${scoreExpr(duck = true)} AS score
       |      FROM lab l JOIN sc ON l.doc_id = sc.doc_id
       |      CROSS JOIN tot CROSS JOIN pri
       |      WHERE l.split = 'eval'),
       |k AS (SELECT label, score,
       |             (GREATEST(-20000, LEAST(20999, score)) + 20000) // 1000 - 20 AS bin
       |      FROM r)""".stripMargin

  /** CALIBRATION curve — the companion report to [[nbEval]]: bucket the
    * held-out slice by score and compare the model's implied confidence
    * to the observed good rate per bucket (a filter whose score means
    * nothing ordinal cuts at the wrong place no matter where the
    * threshold goes). Buckets are FIXED-WIDTH score bins (one log2 unit
    * = 1000 milli wide, tails clamped to ±20 bins), not rank deciles —
    * equal-width binning needs no global rank window, so the report
    * stays embarrassingly parallel at any corpus size: bin id is a pure
    * row-local function (shift-then-divide keeps the floor uniform
    * across zero despite both engines' truncating integer division),
    * then one groupBy(bin). Monotone good-rate across bins is the
    * calibration signal; QualityClassifierSpec pins it coarsely. */
  val nbCalibration: QueryDef = QueryDef.sql(
    "quality_nb_calibration",
    s"""$binnedEvalSql
       |SELECT CAST(bin AS BIGINT) AS bin,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(label) AS BIGINT) AS n_good,
       |       CAST(1000*SUM(label) // COUNT(*) AS BIGINT) AS good_rate_milli,
       |       CAST(MIN(score) AS BIGINT) AS score_min,
       |       CAST(MAX(score) AS BIGINT) AS score_max
       |FROM k GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    binnedEvalScores(s, d)
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("label")).cast("long").as("n_good"),
        expr("1000*sum(label) div count(1)").cast("long").as("good_rate_milli"),
        min(col("score")).cast("long").as("score_min"),
        max(col("score")).cast("long").as("score_max"))
      .select(col("bin").cast("long"), col("n_docs"), col("n_good"),
        col("good_rate_milli"), col("score_min"), col("score_max"))
      .orderBy("bin")
  }

  /** The eval slice's (label, score, bin) table shared by the calibration
    * and threshold-sweep instruments — NB scores from the persisted
    * artifact, the fixed-width one-log2-unit bin as a pure row-local
    * expression (shift-then-divide keeps the floor uniform across zero
    * despite both engines' truncating integer division). */
  private def binnedEvalScores(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val labeled = labeledDocs(s, d)
    nbScoreAll(s, d, "raw", labeled)
      .join(labeled.select(col("doc_id"), col("label"), col("split")), Seq("doc_id"))
      .filter(col("split") === "eval")
      .select(col("label"), col("score_milli").as("score"))
      .withColumn("bin",
        expr("(greatest(-20000L, least(20999L, score)) + 20000L) div 1000 - 20"))
  }

  /** THRESHOLD SWEEP — the operating-point instrument next to the
    * calibration diagram: for every candidate cut t (the bin lower edges
    * of [[nbCalibration]]'s fixed-width grid), what the filter "keep
    * score ≥ t" would do on the eval slice — documents kept, yield
    * fraction, precision and recall of the kept set against the labels.
    * This is how published classifier-filter pipelines actually pick
    * their threshold (yield-vs-precision trade, the CCNet/DCLM move);
    * the calibration plot says whether scores are honest, the sweep says
    * where to cut. The lowest populated bin's edge is the keep-everything
    * cut (tail scores clamp into it), so the sweep's first row doubles as
    * the no-filter baseline.
    *
    * Exactness: cumulative counts over the ≤ 41-row bin table (the
    * window is over BINS, never documents — scale-free), milli ratios by
    * floor division — every cell BIGINT, hash-compared. Scale shape: the
    * corpus-touching work is the same one artifact-served score join the
    * calibration pays; everything after is the bin grid. */
  val nbThresholdSweep: QueryDef = QueryDef.sql(
    "quality_nb_threshold_sweep",
    s"""$binnedEvalSql,
       |g AS (SELECT bin, COUNT(*) AS n_bin, SUM(label) AS n_good FROM k GROUP BY bin),
       |a AS (SELECT SUM(n_bin) AS all_docs, SUM(n_good) AS all_good FROM g),
       |c AS (SELECT bin, SUM(n_bin) OVER (ORDER BY bin DESC) AS n_kept,
       |             SUM(n_good) OVER (ORDER BY bin DESC) AS tp FROM g)
       |SELECT CAST(c.bin AS BIGINT) AS bin,
       |       CAST(c.bin * 1000 AS BIGINT) AS threshold_milli,
       |       CAST(c.n_kept AS BIGINT) AS n_kept,
       |       CAST(c.tp AS BIGINT) AS n_good_kept,
       |       CAST(1000 * c.n_kept // a.all_docs AS BIGINT) AS yield_milli,
       |       CAST(1000 * c.tp // c.n_kept AS BIGINT) AS precision_milli,
       |       CAST(1000 * c.tp // GREATEST(a.all_good, 1) AS BIGINT) AS recall_milli
       |FROM c CROSS JOIN a ORDER BY bin""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = binnedEvalScores(s, d)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_bin"), sum(col("label")).as("n_good"))
    val a = g.agg(sum(col("n_bin")).as("all_docs"), sum(col("n_good")).as("all_good"))
    // cumulative-from-the-top over the ≤ 41-row bin grid: a window over
    // bins, never over documents
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("n_kept", sum(col("n_bin")).over(w))
      .withColumn("tp", sum(col("n_good")).over(w))
      .crossJoin(broadcast(a))
      .select(col("bin").cast("long").as("bin"),
        (col("bin") * 1000).cast("long").as("threshold_milli"),
        col("n_kept").cast("long").as("n_kept"),
        col("tp").cast("long").as("n_good_kept"),
        expr("1000 * n_kept div all_docs").cast("long").as("yield_milli"),
        expr("1000 * tp div n_kept").cast("long").as("precision_milli"),
        expr("1000 * tp div greatest(all_good, 1)").cast("long").as("recall_milli"))
      .orderBy("bin")
  }

  /** ENSEMBLE quality filtering — the three published quality legs voting
    * on every document: (1) the HEURISTIC gate (the `curation_pipeline`
    * rule restated in exact integers: ≥ 15 tokens and duplicate-token
    * fraction below 0.65 — Gopher-lineage repetition screening), (2) the
    * LM-STATISTICAL gate (bigram cross-entropy at or below the corpus
    * median — the CCNet move of thresholding perplexity on the corpus's
    * own distribution, rank-based so no calibration constant to disagree
    * across engines; exact `quantile_disc` lower median), and (3) the
    * TRAINED gate (the naive Bayes score ≥ 0, same shared fit as
    * `quality_nb_classify`). Keep = at least 2 of 3 votes. Production
    * pipelines stack these filters serially, which silently lets any one
    * signal veto; the published reason to ensemble instead is exactly the
    * per-signal disagreement this artifact surfaces — every document row
    * carries all three votes, so "which filter fires alone" is a GROUP BY
    * away, and the keep rule is majority, not veto.
    *
    * Scale shape: three already-audited per-doc pipelines (heuristic:
    * scan-local; perplexity: the [[TextAnalysis.perplexityScores]] two
    * shuffles; NB: vocabulary-sized fit + broadcast scoring) joined on
    * doc_id; the perplexity median is one `quantile_disc` aggregate —
    * no global sort, no new corpus-scale exchange beyond what the legs
    * themselves pay. Docs too short to have bigrams cannot earn the
    * perplexity vote (surfaced as ppl_pass = 0, not hidden). */
  val ensemble: QueryDef = QueryDef.sql(
    "quality_ensemble",
    s"""${oracleCtes(scoreAll = true)},
       |${graft.operators.TextAnalysis.perplexityCte},
       |pmed AS (SELECT quantile_disc(h_milli, 0.5) AS med FROM pper),
       |heur AS (SELECT doc_id,
       |               CASE WHEN len(w) >= 15
       |                     AND 1000 * (len(w) - len(list_distinct(w))) < 650 * len(w)
       |                    THEN 1 ELSE 0 END AS heur_pass
       |        FROM s),
       |votes AS (
       |  SELECT l.doc_id, l.nt, h.heur_pass,
       |         CASE WHEN p.doc_id IS NOT NULL AND p.h_milli <= pmed.med
       |              THEN 1 ELSE 0 END AS ppl_pass,
       |         CASE WHEN ${scoreExpr(duck = true)} >= 0 THEN 1 ELSE 0 END AS nb_pass
       |  FROM lab l JOIN sc ON l.doc_id = sc.doc_id
       |       JOIN heur h ON l.doc_id = h.doc_id
       |       LEFT JOIN pper p ON l.doc_id = p.doc_id
       |       CROSS JOIN pmed CROSS JOIN tot CROSS JOIN pri)
       |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
       |       CAST(heur_pass AS BIGINT) AS heur_pass,
       |       CAST(ppl_pass AS BIGINT) AS ppl_pass,
       |       CAST(nb_pass AS BIGINT) AS nb_pass,
       |       CAST(heur_pass + ppl_pass + nb_pass AS BIGINT) AS votes,
       |       CAST(CASE WHEN heur_pass + ppl_pass + nb_pass >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM votes ORDER BY doc_id""".stripMargin) { (s, d) =>
    // same bootstrap-only materialize as curation_report: the heuristic leg
    // is the plan's single steady-state consumer
    val labeledPlan = labeledDocs(s, d)
    val nb = nbScoreAll(s, d, "raw", Tables.materialize(labeledPlan))
      .select(col("doc_id"), col("nt"),
        when(col("score_milli") >= 0, 1L).otherwise(0L).as("nb_pass"))
    val heur = labeledPlan
      .withColumn("nd", size(array_distinct(col("w"))).cast("long"))
      .select(col("doc_id"),
        when(col("nt") >= 15 &&
          lit(1000L) * (col("nt") - col("nd")) < lit(650L) * col("nt"), 1L)
          .otherwise(0L).as("heur_pass"))
    // the LM leg serves from the train-once lmppl artifact (round 13) —
    // the parquet read replaces the two-shuffle bigram refit per run; the
    // oracle still retrains from scratch (perplexityCte above)
    val ppl = graft.operators.TextAnalysis.perplexityArtifact(s, d)
      .select(col("doc_id"), col("h_milli"))
    val med = ppl.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY h_milli)").as("med"))
    nb.join(heur, Seq("doc_id"))
      .join(ppl, Seq("doc_id"), "left")
      .crossJoin(broadcast(med))
      .withColumn("ppl_pass",
        when(col("h_milli").isNotNull && col("h_milli") <= col("med"), 1L)
          .otherwise(0L))
      .withColumn("votes", col("heur_pass") + col("ppl_pass") + col("nb_pass"))
      .select(col("doc_id"), col("nt").as("n_tokens"),
        col("heur_pass"), col("ppl_pass"), col("nb_pass"), col("votes"),
        when(col("votes") >= 2, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Cleaned-text expression, DuckDB spelling (the `curation_pipeline`
    * cleaning), single line so it can ride inside a CTE builder. */
  private val CleanedSql: String =
    "lower(trim(regexp_replace(regexp_replace(regexp_replace(text, " +
      "'https?://[^ ]+', '<url>', 'g'), " +
      "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<email>', 'g'), " +
      "' +', ' ', 'g')))"

  /** END-TO-END CURATION REPORT — the data card artifact: one pipeline,
    * five stages, and for each the surviving documents and tokens plus
    * the stage's own drop count and milli drop rate. The stages are the
    * published order (clean → quality-filter → exact-dedup →
    * decontaminate → trained-classifier filter), each applying exactly
    * the rule its standalone audited operator applies, all computed on
    * the CLEANED text so the numbers compose: what this emits is the
    * attrition table every dataset paper prints (how many documents each
    * filter removed), as a first-class oracle-checked query instead of a
    * notebook artifact.
    *
    * Stage rules: s1 quality = ≥15 tokens and duplicate-token fraction
    * below 0.65 (`curation_pipeline`); s2 dedup = min-doc_id per
    * md5(cleaned) among s1 survivors; s3 decontaminate = drop the
    * benchmark slice itself (doc_id % 97 = 0) and any survivor with ≥10%
    * of its distinct 5-gram shingles in that slice
    * (`contamination_strip`); s4 classifier = the shared NB fit (trained
    * on the md5 90% split over cleaned tokens) scores ≥ 0
    * (`curation_classifier_filter`). Monotone by construction — each
    * stage filters the previous survivors.
    *
    * Scale shape: one materialized per-doc flag table (every rule's
    * inputs ride the same cleaned-token scan), the NB vocabulary fit,
    * the broadcast benchmark-shingle join, and a single 1-row aggregate
    * exploded to 5 report rows — no shuffle keyed coarser than doc_id
    * beyond what the standalone operators already pay. */
  val curationReport: QueryDef = QueryDef.sql(
    "curation_report",
    s"""${oracleCtes(scoreAll = true, textExpr = CleanedSql)},
       |base AS (SELECT l.doc_id, l.w, l.nt,
       |          len(list_distinct(l.w)) AS nd,
       |          md5(array_to_string(l.w, ' ')) AS ckey,
       |          (l.doc_id % 97 = 0) AS bench,
       |          (${scoreExpr(duck = true)} >= 0) AS nbp
       |        FROM lab l JOIN sc ON l.doc_id = sc.doc_id
       |        CROSS JOIN tot CROSS JOIN pri),
       |q1 AS (SELECT *, (nt >= 15 AND 1000*(nt - nd) < 650*nt) AS s1 FROM base),
       |kk AS (SELECT ckey, MIN(doc_id) AS keep_id FROM q1 WHERE s1 GROUP BY ckey),
       |q2 AS (SELECT q1.*, (q1.s1 AND q1.doc_id = COALESCE(kk.keep_id, -1)) AS s2
       |       FROM q1 LEFT JOIN kk ON q1.ckey = kk.ckey),
       |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |           generate_series(1, len(w)-4), i -> array_to_string(w[i:i+4], ' ')))) AS g
       |        FROM q1 WHERE bench AND len(w) >= 5),
       |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |           generate_series(1, len(w)-4), i -> array_to_string(w[i:i+4], ' ')))) AS g
       |        FROM q2 WHERE s2 AND len(w) >= 5),
       |cont AS (SELECT d.doc_id, COUNT(*) AS n_sh,
       |                SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |         FROM dsh d LEFT JOIN bsh b ON d.g = b.g GROUP BY 1),
       |q3 AS (SELECT q2.*, (q2.s2 AND NOT q2.bench AND
       |          NOT COALESCE(cont.n_sh > 0 AND 10*cont.hits >= cont.n_sh, FALSE)) AS s3
       |       FROM q2 LEFT JOIN cont ON q2.doc_id = cont.doc_id),
       |q4 AS (SELECT *, (s3 AND nbp) AS s4 FROM q3),
       |agg AS (SELECT COUNT(*) AS d0, SUM(nt) AS t0,
       |         SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS d1, SUM(CASE WHEN s1 THEN nt ELSE 0 END) AS t1,
       |         SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS d2, SUM(CASE WHEN s2 THEN nt ELSE 0 END) AS t2,
       |         SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS d3, SUM(CASE WHEN s3 THEN nt ELSE 0 END) AS t3,
       |         SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS d4, SUM(CASE WHEN s4 THEN nt ELSE 0 END) AS t4
       |        FROM q4)
       |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
       |       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(dropped_docs AS BIGINT) AS dropped_docs, CAST(drop_milli AS BIGINT) AS drop_milli
       |FROM (
       | SELECT 0 AS stage_idx, 'raw' AS stage, d0 AS n_docs, t0 AS n_tokens,
       |        0 AS dropped_docs, 0 AS drop_milli FROM agg
       | UNION ALL SELECT 1, 'quality', d1, t1, d0-d1,
       |        CASE WHEN d0>0 THEN 1000*(d0-d1)//d0 ELSE 0 END FROM agg
       | UNION ALL SELECT 2, 'dedup', d2, t2, d1-d2,
       |        CASE WHEN d1>0 THEN 1000*(d1-d2)//d1 ELSE 0 END FROM agg
       | UNION ALL SELECT 3, 'decontaminate', d3, t3, d2-d3,
       |        CASE WHEN d2>0 THEN 1000*(d2-d3)//d2 ELSE 0 END FROM agg
       | UNION ALL SELECT 4, 'classifier', d4, t4, d3-d4,
       |        CASE WHEN d3>0 THEN 1000*(d3-d4)//d3 ELSE 0 END FROM agg
       |) ORDER BY stage_idx""".stripMargin) { (s, d) =>
    val cleanedTok = Tables.documents(s, d).select(col("doc_id"),
      split(lower(trim(regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit("https?://[^ ]+"), lit("<url>")),
        lit("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"), lit("<email>")),
        lit(" +"), lit(" ")))), " ").as("w"))
    // labeled feeds the NB fit (train slice), priors, and both scoring
    // sides ONLY during the one-time artifact bootstrap — the materialize
    // rides the by-name argument so a steady-state run (NB legs served
    // from the nbw/nbm/nbs artifacts) never pays the cache-write job; the
    // per-stage flag table below consumes the plan exactly once per run,
    // so IT reads the unmaterialized form (round 14)
    val labeledPlan = labeledFrom(cleanedTok)
    val nb = nbScoreAll(s, d, "clean", Tables.materialize(labeledPlan))
    val base = Tables.materialize(labeledPlan
      .join(nb.select(col("doc_id"), col("score_milli")), Seq("doc_id"))
      .withColumn("nd", size(array_distinct(col("w"))).cast("long"))
      .withColumn("ckey", md5(concat_ws(" ", col("w"))))
      .withColumn("bench", pmod(col("doc_id"), lit(97)) === 0)
      .withColumn("nbp", col("score_milli") >= 0)
      .withColumn("s1", col("nt") >= 15 &&
        lit(1000L) * (col("nt") - col("nd")) < lit(650L) * col("nt")))
    // r22 (guide §2.4): the dedup keeper was a groupBy(ckey) aggregate
    // joined back to base on ckey — two exchanges of the flag table plus a
    // sort-merge join. The keeper is window-expressible over ONE
    // hash(ckey) exchange: min(doc_id) among the group's s1 rows
    // (min-over-when; NULL when the group has none, exactly the
    // COALESCE(keep_id, -1) no-keeper case — and s1 is false on those rows
    // anyway, so s2 is unchanged row for row). Oracle untouched.
    val kkW = org.apache.spark.sql.expressions.Window.partitionBy(col("ckey"))
    val q2 = base
      .withColumn("keep_id", min(when(col("s1"), col("doc_id"))).over(kkW))
      .withColumn("s2", col("s1") &&
        col("doc_id") === coalesce(col("keep_id"), lit(-1L)))
    def sh(df: org.apache.spark.sql.DataFrame) =
      Tables.fanOut(df).filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(col("w")) - 4),
          i => concat_ws(" ", slice(col("w"), i, lit(5)))))).as("g"))
    val bsh = sh(base.filter(col("bench"))).select(col("g")).distinct()
    // only stage-2 survivors face the decontamination rule — shingling the
    // already-dropped majority would pay the explode for rows whose cont
    // row could never be read (q3 only consults it where s2 holds)
    val cont = sh(q2.filter(col("s2")))
      .join(broadcast(bsh.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("hit"), lit(0L))).as("hits"))
    val q4 = q2.join(cont, Seq("doc_id"), "left")
      .withColumn("s3", col("s2") && !col("bench") &&
        !coalesce(col("n_sh") > 0 && lit(10L) * col("hits") >= col("n_sh"),
          lit(false)))
      .withColumn("s4", col("s3") && col("nbp"))
    val agg = q4.agg(
      count(lit(1)).cast("long").as("d0"), sum(col("nt")).as("t0"),
      sum(when(col("s1"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("s1"), col("nt")).otherwise(0L)).as("t1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("d2"),
      sum(when(col("s2"), col("nt")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("d3"),
      sum(when(col("s3"), col("nt")).otherwise(0L)).as("t3"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("d4"),
      sum(when(col("s4"), col("nt")).otherwise(0L)).as("t4"))
    agg.selectExpr(
      """stack(5,
        | 0L, 'raw', d0, t0, 0L, 0L,
        | 1L, 'quality', d1, t1, d0-d1, IF(d0>0, 1000*(d0-d1) div d0, 0L),
        | 2L, 'dedup', d2, t2, d1-d2, IF(d1>0, 1000*(d1-d2) div d1, 0L),
        | 3L, 'decontaminate', d3, t3, d2-d3, IF(d2>0, 1000*(d2-d3) div d2, 0L),
        | 4L, 'classifier', d4, t4, d3-d4, IF(d3>0, 1000*(d3-d4) div d3, 0L)
        |) as (stage_idx, stage, n_docs, n_tokens, dropped_docs, drop_milli)""".stripMargin)
      .orderBy("stage_idx")
  }

  /** MODEL CARD: the classifier's most indicative tokens — top-10 by
    * weight in each direction, with their per-class train counts. The
    * report every published classifier-filter pipeline prints next to its
    * eval numbers ("what did the model actually learn?"), and the cheap
    * sanity check that catches a label flip or a leaked feature at a
    * glance. Served AND oracled from the persisted weight artifact: the
    * query is two TakeOrdered(10) passes over the vocabulary-sized table,
    * and the DuckDB oracle reads the same parquet (the serving artifact is
    * the interface, the [[graft.sources.ModelStore]] posture). */
  val nbTopFeatures: QueryDef = QueryDef.sqlDynamic("quality_nb_top_features") { (s, d) =>
    val path = graft.sources.ModelStore.fsPath(s, d, "documents.parquet", "nbw_raw")
    s"""WITH w AS (SELECT t, cg, cb, wgt FROM read_parquet('$path/*.parquet')),
      |g AS (SELECT 'good' AS direction, t, cg, cb, wgt,
      |             ROW_NUMBER() OVER (ORDER BY wgt DESC, t) AS rnk FROM w),
      |b AS (SELECT 'bad' AS direction, t, cg, cb, wgt,
      |             ROW_NUMBER() OVER (ORDER BY wgt ASC, t) AS rnk FROM w)
      |SELECT direction, CAST(rnk AS BIGINT) AS rnk, t AS token,
      |       CAST(cg AS BIGINT) AS cg, CAST(cb AS BIGINT) AS cb,
      |       CAST(wgt AS BIGINT) AS weight_milli
      |FROM (SELECT * FROM g WHERE rnk <= 10 UNION ALL SELECT * FROM b WHERE rnk <= 10)
      |ORDER BY direction, rnk""".stripMargin
  } { (s, d) =>
    val (weights, _) = nbFit(s, d, "raw", labeledDocs(s, d))
    def side(dir: String, ord: Seq[org.apache.spark.sql.Column]) =
      weights.orderBy(ord: _*).limit(10)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(ord: _*)).cast("long"))
        .select(lit(dir).as("direction"), col("rnk"), col("t").as("token"),
          col("cg").cast("long").as("cg"), col("cb").cast("long").as("cb"),
          col("wgt").cast("long").as("weight_milli"))
    side("good", Seq(col("wgt").desc, col("t")))
      .union(side("bad", Seq(col("wgt").asc, col("t"))))
      .orderBy("direction", "rnk")
  }

  val all: Seq[QueryDef] =
    Seq(nbClassify, classifierFilter, nbIncremental, nbEval, nbCalibration,
      nbThresholdSweep, ensemble, curationReport, nbTopFeatures)
}
