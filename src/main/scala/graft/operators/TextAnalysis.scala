package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Text analysis for training-data pipelines over the documents table:
  * language-ID (char-trigram profiles), quality scoring (length / type-token
  * / stopword ratios), token counting (whitespace + regex), and document
  * fingerprinting. All ratio outputs are integerized (milli-units) so both
  * engines hash identical BIGINTs.
  */
object TextAnalysis {

  /** Character-trigram language ID. Profiles are self-trained: the top-20
    * most frequent trigrams per labeled lang (rank ties broken by trigram)
    * form each language's profile; a doc's predicted lang is the profile it
    * hits most (ties broken by lang name). Fully relational: the profile is
    * a tiny broadcast join, the trigram explode is embarrassingly parallel,
    * and nothing about the plan changes at 100 TB (train once, broadcast). */
  /** The langid chain as a reusable CTE prefix ending in
    * `pred(doc_id, actual_lang, predicted_lang, hits)` — shared with the
    * eval query so the two oracles cannot drift. */
  private val langidCte: String =
    """tri AS (SELECT doc_id, lang, unnest(list_transform(
      |                generate_series(1, length(text)-2), i -> substr(text, i, 3))) AS g
      |             FROM documents),
      |prof AS (SELECT lang, g, COUNT(*) AS c,
      |                ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS rnk
      |         FROM tri GROUP BY lang, g),
      |top AS (SELECT lang AS p_lang, g FROM prof WHERE rnk <= 20),
      |score AS (SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
      |          FROM tri t JOIN top p ON t.g = p.g GROUP BY 1, 2),
      |best AS (SELECT doc_id, p_lang, hits,
      |                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS rnk
      |         FROM score),
      |pred AS (SELECT d.doc_id, d.lang AS actual_lang,
      |                COALESCE(b.p_lang, 'und') AS predicted_lang,
      |                CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits
      |         FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rnk = 1)""".stripMargin

  /** Spark counterpart of [[langidCte]]: per-doc
    * (doc_id, actual_lang, predicted_lang, hits) — served as a TRAIN-ONCE
    * PERSISTED artifact (verdict r11 item 1): the ~300× trigram explode +
    * profile build + scoring chain runs once per corpus content and both
    * langid queries (plus any future consumer) read the parquet table.
    * The retrain-from-scratch oracle stays valid — the chain is a
    * deterministic function of the corpus — and is the stronger check:
    * it verifies the served artifact equals a fresh prediction pass. */
  private def langidScores(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "langid_pred") {
      langidScoresBuild(s, d)
    }

  private def langidScoresBuild(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the trigram explode feeds both the profile build and the scoring join:
    // materialize it once (production would stage it to parquet)
    val tri = Tables.materialize(
      Tables.fanOut(docs).select(col("doc_id"), col("lang"),
        explode(transform(
          sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))).as("g")))
    // The trigram explode feeds two consumers (profile build + scoring).
    // Deliberately NOT pre-aggregated on (doc_id, lang, g): those keys are
    // nearly unique, so a pre-agg just adds two full-cardinality shuffles
    // (measured 4.5× slower). Per-doc trigrams stay pipelined into each
    // consumer's own narrow aggregation.
    val profW = Window.partitionBy(col("lang")).orderBy(col("c").desc, col("g"))
    val top = tri.groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(profW))
      .filter(col("rnk") <= 20)
      .select(col("lang").as("p_lang"), col("g"))
    val score = tri.join(broadcast(top), Seq("g"))
      .groupBy(col("doc_id"), col("p_lang")).agg(count(lit(1)).as("hits"))
    val bestW = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("p_lang"))
    val best = score.withColumn("rnk", row_number().over(bestW)).filter(col("rnk") === 1)
    docs.select(col("doc_id"), col("lang").as("actual_lang"))
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("actual_lang"),
        coalesce(col("p_lang"), lit("und")).as("predicted_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  val langId: QueryDef = QueryDef.sql(
    "text_langid_trigram",
    s"""WITH $langidCte
      |SELECT doc_id, actual_lang, predicted_lang, hits
      |FROM pred ORDER BY doc_id""".stripMargin) { (s, d) =>
    langidScores(s, d).orderBy("doc_id")
  }

  /** Language-ID EVALUATION — the classifier's confusion matrix and
    * per-language accuracy, the [[QualityClassifier]] `quality_nb_eval`
    * pattern applied to the langid operator: a langid pass guards every
    * mixture/fertility decision downstream, so its per-language error
    * rates belong IN the pipeline's artifacts, not in a notebook. One
    * row per observed (actual, predicted) cell with the cell count and
    * the actual language's support, correct count, and exact-integer
    * milli accuracy on every row. Scale shape: a |langs²|-row aggregate
    * over the per-doc prediction table — the langid chain itself is the
    * only corpus-scale work. */
  val langIdEval: QueryDef = QueryDef.sql(
    "text_langid_eval",
    s"""WITH $langidCte,
      |cells AS (SELECT actual_lang, predicted_lang, COUNT(*) AS n_docs
      |          FROM pred GROUP BY 1, 2),
      |per AS (SELECT actual_lang, SUM(n_docs) AS support,
      |               SUM(CASE WHEN actual_lang = predicted_lang THEN n_docs ELSE 0 END) AS correct
      |        FROM cells GROUP BY 1)
      |SELECT c.actual_lang, c.predicted_lang,
      |       CAST(c.n_docs AS BIGINT) AS n_docs,
      |       CAST(p.support AS BIGINT) AS support,
      |       CAST(p.correct AS BIGINT) AS correct,
      |       CAST(1000 * p.correct // p.support AS BIGINT) AS accuracy_milli
      |FROM cells c JOIN per p USING (actual_lang)
      |ORDER BY c.actual_lang, c.predicted_lang""".stripMargin) { (s, d) =>
    val cells = langidScores(s, d)
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val per = cells.groupBy(col("actual_lang"))
      .agg(sum(col("n_docs")).as("support"),
        sum(when(col("actual_lang") === col("predicted_lang"), col("n_docs"))
          .otherwise(0L)).as("correct"))
    cells.join(per, Seq("actual_lang"))
      .select(col("actual_lang"), col("predicted_lang"),
        col("n_docs").cast("long"), col("support").cast("long"),
        col("correct").cast("long"),
        expr("1000 * correct div support").cast("long").as("accuracy_milli"))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** Quality scoring: token count, type-token ratio, mean token length,
    * stopword ratio — the standard cheap pre-filter signals, all exact
    * integer milli-ratios. One projection, no shuffle. */
  val quality: QueryDef = QueryDef.sql(
    "text_quality_score",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_ch FROM documents)
      |SELECT doc_id,
      |       CAST(len(w) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |       CAST(ROUND(1000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS ttr_milli,
      |       CAST(ROUND(1000.0 * (n_ch - len(w) + 1) / len(w)) AS BIGINT) AS avg_token_len_milli,
      |       CAST(ROUND(1000.0 * len(list_filter(w, x -> x IN ('the','a','value','key'))) / len(w)) AS BIGINT) AS stopword_milli
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stop = GopherStop // deferred to run time — safe forward reference
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"), length(col("text")).as("n_ch"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"),
        round(lit(1000.0) * size(array_distinct(col("w"))) / size(col("w"))).cast("long").as("ttr_milli"),
        round(lit(1000.0) * (col("n_ch") - size(col("w")) + 1) / size(col("w"))).cast("long").as("avg_token_len_milli"),
        round(lit(1000.0) * size(filter(col("w"), x => x.isin(stop: _*))) / size(col("w"))).cast("long").as("stopword_milli"))
      .orderBy("doc_id")
  }

  /** GOPHER-RULE quality filter (Rae et al., arXiv:2112.11446 §A1.1) — the
    * published heuristic rule set that precedes any model-based quality
    * scoring in production web pipelines, as ONE relational pass: word
    * count in [10, 100 000], mean word length in [3, 10] chars, fraction
    * of words containing an alphabetic character ≥ 0.8, and ≥ 2 stopword
    * hits (the "contains real sentences" proxy). Every rule's VALUE is
    * emitted next to its verdict (exact integers — milli fractions via
    * integral division), so the data card shows *why* a document fell,
    * and `keep` is their conjunction. On this synthetic corpus only the
    * stopword rule binds (41/500 at sf0.01) — the others are asserted on
    * adversarial fixtures in `GopherRulesSpec`, the
    * [[graft.operators.Dedup.MaxShingleDf]] never-binds-at-test-scale
    * pattern.
    *
    * Scale shape: one codegen'd projection per row (split + two
    * list-filters + arithmetic), no shuffle, no state — the filter runs
    * AT THE SCAN at 100 TB, exactly where a pre-training pipeline wants
    * its cheapest gate. */
  val gopherRules: QueryDef = QueryDef.sql(
    "quality_gopher_rules",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_ch FROM documents),
      |m AS (SELECT doc_id,
      |        CAST(len(w) AS BIGINT) AS n_words,
      |        CAST((n_ch - len(w) + 1) AS BIGINT) AS n_wchars,
      |        CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
      |        CAST(len(list_filter(w, x -> x IN ('the','a','value','key'))) AS BIGINT) AS n_stop
      |      FROM t)
      |SELECT doc_id, n_words,
      |       CAST(1000 * n_wchars // n_words AS BIGINT) AS mean_wlen_milli,
      |       CAST(1000 * n_alpha // n_words AS BIGINT) AS alpha_frac_milli,
      |       n_stop,
      |       (n_words >= 10 AND n_words <= 100000) AS r_count,
      |       (1000 * n_wchars // n_words >= 3000 AND 1000 * n_wchars // n_words <= 10000) AS r_wlen,
      |       (1000 * n_alpha // n_words >= 800) AS r_alpha,
      |       (n_stop >= 2) AS r_stop,
      |       ((n_words >= 10 AND n_words <= 100000)
      |        AND (1000 * n_wchars // n_words >= 3000 AND 1000 * n_wchars // n_words <= 10000)
      |        AND (1000 * n_alpha // n_words >= 800) AND (n_stop >= 2)) AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    gopherRulesOn(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** The corpus's four function-word stand-ins — shared by the rule table,
    * the row-local gate predicate, and `text_quality_score`. */
  private[graft] val GopherStop = Seq("the", "a", "value", "key")

  /** The four Gopher rules as ONE row-local predicate over a text column —
    * the ADMISSION-GATE form of [[gopherRulesOn]] for composition into
    * pipelines ([[TrainingData.curationPipelineV2]]) and streams
    * ([[graft.streaming.StreamingOps.curationStreamGated]]): pure
    * projection arithmetic, no shuffle, no state, so the gate runs AT THE
    * SCAN wherever it is placed. Integer floor-division via
    * [[QualityClassifier.idivCol]] keeps it exactly the table form's
    * `div` — `GopherRulesSpec` pins keep-set identity against
    * [[gopherRulesOn]] on the corpus. */
  private[graft] def gopherKeepCol(text: Column): Column = {
    val w = split(text, " ")
    val nWords = size(w).cast("long")
    val nWchars = (length(text) - size(w) + 1).cast("long")
    val nAlpha = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long")
    val nStop = size(filter(w, x => x.isin(GopherStop: _*))).cast("long")
    val wlen = QualityClassifier.idivCol(lit(1000L) * nWchars, nWords)
    val alpha = QualityClassifier.idivCol(lit(1000L) * nAlpha, nWords)
    nWords >= 10 && nWords <= 100000 &&
      wlen >= 3000 && wlen <= 10000 &&
      alpha >= 800 && nStop >= 2
  }

  /** [[gopherRules]]'s body over an explicit documents frame — spec entry. */
  private[graft] def gopherRulesOn(docs: DataFrame): DataFrame = {
    val stop = GopherStop
    val m = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        length(col("text")).as("n_ch"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        (col("n_ch") - size(col("w")) + 1).cast("long").as("n_wchars"),
        size(filter(col("w"), x => x.rlike("[a-zA-Z]"))).cast("long").as("n_alpha"),
        size(filter(col("w"), x => x.isin(stop: _*))).cast("long").as("n_stop"))
    val wlen = expr("1000 * n_wchars div n_words")
    val alpha = expr("1000 * n_alpha div n_words")
    val rCount = col("n_words") >= 10 && col("n_words") <= 100000
    val rWlen = wlen >= 3000 && wlen <= 10000
    val rAlpha = alpha >= 800
    val rStop = col("n_stop") >= 2
    m.select(col("doc_id"), col("n_words"),
      wlen.as("mean_wlen_milli"), alpha.as("alpha_frac_milli"), col("n_stop"),
      rCount.as("r_count"), rWlen.as("r_wlen"), rAlpha.as("r_alpha"),
      rStop.as("r_stop"),
      (rCount && rWlen && rAlpha && rStop).as("keep"))
  }

  /** CHARACTER-ENTROPY quality signal — Shannon entropy of the per-doc
    * character distribution, the classic gibberish/repetition detector
    * (low entropy = aaaa-spam or single-char runs; high = encrypted/
    * base64-ish noise; natural text sits in a band): H = (1/N)·Σ
    * cnt_c·(log2 N − log2 cnt_c), computed EXACTLY in fixed point via the
    * shared milli-log2 ([[QualityClassifier.ml2]] — the same machinery the
    * NB classifier and every nDCG discount use), so both engines sum
    * identical integers and the score is hash-exact, where a double
    * log2 would drift by libm ulps.
    *
    * Scale shape: one char explode (linear in bytes, `fanOut` keeps it
    * partition-parallel — the `text_langid_trigram` class), one
    * (doc, char) hash aggregation with map-side combine (≤ alphabet-size
    * rows per doc reach the exchange), one per-doc fold. No corpus sort,
    * no joins beyond the per-doc totals. */
  val charEntropy: QueryDef = QueryDef.sql(
    "text_char_entropy", {
      def m(x: String) = QualityClassifier.ml2(x, duck = true)
      s"""WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
      |           FROM documents WHERE length(text) >= 1),
      |g AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY doc_id, ch),
      |t AS (SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS n_distinct FROM g GROUP BY doc_id),
      |e AS (SELECT g.doc_id, MIN(t.n) AS n, MIN(t.n_distinct) AS nd,
      |        SUM(g.cnt * (${m("t.n")} - ${m("g.cnt")})) AS num
      |      FROM g JOIN t ON g.doc_id = t.doc_id GROUP BY g.doc_id)
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
      |       CAST(COALESCE(e.n, 0) AS BIGINT) AS n_chars,
      |       CAST(COALESCE(e.nd, 0) AS BIGINT) AS n_distinct_chars,
      |       CAST(COALESCE(e.num // e.n, 0) AS BIGINT) AS char_entropy_milli
      |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
      |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
    charEntropyOn(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** [[charEntropy]]'s body over an explicit documents frame — spec entry. */
  private[graft] def charEntropyOn(docs: DataFrame): DataFrame = {
    def m(x: String) = QualityClassifier.ml2(x, duck = false)
    val c = Tables.fanOut(docs.filter(length(col("text")) >= 1))
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
    // the (doc, char) histogram feeds the per-doc totals AND the entropy
    // fold: materialize once
    val g = Tables.materialize(
      c.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt")))
    val t = g.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"))
    val e = g.join(t, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(col("n")).as("n"), min(col("n_distinct")).as("nd"),
        sum(col("cnt") * (expr(m("n")) - expr(m("cnt")))).as("num"))
    docs.select(col("doc_id"))
      .join(e, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_chars"),
        coalesce(col("nd"), lit(0L)).cast("long").as("n_distinct_chars"),
        coalesce(expr("num div n"), lit(0L)).cast("long")
          .as("char_entropy_milli"))
  }

  /** [[charEntropy]] as ONE row-local Column — the ADMISSION-GATE form for
    * composition into pipelines and streams: delegates to the native
    * codegen'd [[graft.functions.CharEntropyMilli]] expression (one fused
    * O(chars) loop inside whole-stage codegen), integer-identical to the
    * explode+aggregate audit form — `CharEntropySpec` pins that on
    * fixtures AND the whole corpus — while the plan stays a pure
    * projection: no explode, no exchange, no join, the property
    * [[TrainingData.curationPipelineV2]]'s no-new-exchange contract
    * needs. NOT higher-order functions: Spark evaluates lambdas
    * interpreted, and both per-row histogram shapes tried first
    * (distinct×filter, sorted-run fold) measured ~30× the whole
    * pipeline's runtime — the expression is the brief's "native
    * Expression beats everything" case in the flesh. */
  private[graft] def charEntropyMilliCol(text: Column): Column =
    graft.functions.CharEntropyMilli.charEntropyMilli(text)

  /** Token counting: whitespace split vs. a BPE-ish lexical regex
    * (letter runs / digit runs / single punctuation). */
  val tokenCount: QueryDef = QueryDef.sql(
    "text_token_count",
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS re_tokens,
      |       CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: exact content hash + order-insensitive token-set
    * hash (the keys the dedup operators group on). */
  val fingerprintQuery: QueryDef = QueryDef.sql(
    "text_fingerprint",
    """SELECT doc_id, md5(text) AS exact_fp,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS token_set_fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(col("text")).as("exact_fp"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("token_set_fp"))
      .orderBy("doc_id")
  }

  /** Text cleaning — the standard pre-training normalization pass: mask
    * URL/email spans, collapse whitespace, lowercase; emit before/after
    * lengths so the oracle checks the transform byte-for-byte AND the
    * cheap audit metrics a pipeline would monitor. Pure projection, one
    * codegen'd stage, no shuffle. */
  val clean: QueryDef = QueryDef.sql(
    "text_clean",
    """WITH c AS (SELECT doc_id,
      |  lower(trim(regexp_replace(regexp_replace(regexp_replace(text,
      |    'https?://[^ ]+', '<url>', 'g'),
      |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<email>', 'g'),
      |    ' +', ' ', 'g'))) AS cleaned,
      |  length(text) AS n_raw
      |  FROM documents)
      |SELECT doc_id, cleaned, CAST(n_raw AS BIGINT) AS n_raw,
      |       CAST(length(cleaned) AS BIGINT) AS n_clean
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        lower(trim(regexp_replace(regexp_replace(regexp_replace(col("text"),
          lit("https?://[^ ]+"), lit("<url>")),
          lit("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"), lit("<email>")),
          lit(" +"), lit(" ")))).as("cleaned"),
        length(col("text")).cast("long").as("n_raw"))
      .select(col("doc_id"), col("cleaned"), col("n_raw"),
        length(col("cleaned")).cast("long").as("n_clean"))
      .orderBy("doc_id")
  }

  /** Corpus-wide top-50 word bigrams: explode → count → top-k. The explode
    * amplifies ~token-count×; the aggregation collapses to |vocab²-observed|
    * with map-side combine, and top-k is TakeOrderedAndProject — the
    * vocabulary-analysis pass every corpus audit runs. */
  val topNgrams: QueryDef = QueryDef.sql(
    "text_top_bigrams",
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT unnest(list_transform(generate_series(1, len(w)-1),
      |          i -> w[i] || ' ' || w[i+1])) AS bigram
      |      FROM t WHERE len(w) >= 2)
      |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
      |ORDER BY n DESC, bigram LIMIT 50""".stripMargin) { (s, d) =>
    Tables.fanOut(Tables.documents(s, d))
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  /** RE2-and-Java-compatible PII patterns (no lookaround, no backrefs — the
    * subset where Spark's Java regex and the oracle's RE2 agree byte for
    * byte). Order matters for redaction: email first (its local part could
    * otherwise be mangled by the phone pass), then IPv4, then phone. */
  val EmailRe = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  val Ipv4Re  = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
  val PhoneRe = """\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"""

  /** Redact PII spans in a text column — the operator a curation pipeline
    * runs before anything leaves the ingest zone. Pure projection
    * (codegen'd regex), no shuffle, trivially 100 TB-parallel. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("<email>")),
        lit(Ipv4Re), lit("<ip>")),
      lit(PhoneRe), lit("<phone>"))

  /** The synthetic corpus contains no PII (word-salad text), so the
    * registered queries run the real operators over a DETERMINISTIC
    * augmentation: every doc gains an email / phone / IPv4 span derived
    * from its doc_id (one type per residue class, one class left clean).
    * Both engines build byte-identical augmented text, so the oracle
    * genuinely exercises regex extraction, counting, and redaction parity —
    * not a vacuous all-zeros compare. The augmentation is test scaffolding;
    * [[redactPii]]/[[EmailRe]]/[[Ipv4Re]]/[[PhoneRe]] are the operator. */
  private def withPiiSpans(docs: DataFrame): DataFrame = {
    val m = pmod(col("doc_id"), lit(4))
    docs.withColumn("aug",
      when(m === 0, concat(col("text"), lit(" contact u"),
        col("doc_id").cast("string"), lit("@mail.example.com for details")))
      .when(m === 1, concat(col("text"), lit(" call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"), lit(" today")))
      .when(m === 2, concat(col("text"), lit(" from 10."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
        pmod(floor(col("doc_id") / 256).cast("long"), lit(256)).cast("string"),
        lit(".7 logged")))
      .otherwise(col("text")))
  }

  /** Same augmentation in DuckDB SQL. */
  private val piiAugSql: String =
    """CASE WHEN doc_id % 4 = 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com for details'
      |     WHEN doc_id % 4 = 1 THEN text || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      |     WHEN doc_id % 4 = 2 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7 logged'
      |     ELSE text END""".stripMargin

  /** PII scrub: per-type counts (audit metrics) + the redacted text. */
  val piiScrub: QueryDef = QueryDef.sql(
    "text_pii_scrub",
    s"""WITH a AS (SELECT doc_id, $piiAugSql AS aug FROM documents)
      |SELECT doc_id,
      |       CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_email,
      |       CAST(len(regexp_extract_all(aug, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
      |       CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phone,
      |       regexp_replace(regexp_replace(regexp_replace(aug,
      |         '$EmailRe', '<email>', 'g'),
      |         '$Ipv4Re', '<ip>', 'g'),
      |         '$PhoneRe', '<phone>', 'g') AS scrubbed
      |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
    // regex-dominated projection: fan the one-file scan out first, or the
    // whole scrub runs in as many tasks as the parquet has row groups
    withPiiSpans(Tables.fanOut(Tables.documents(s, d)))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("aug"), lit(Ipv4Re), lit(0))).cast("long").as("n_ipv4"),
        size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
        redactPii(col("aug")).as("scrubbed"))
      .orderBy("doc_id")
  }

  /** URL pattern + host capture (chars up to the first `/`, `?` or space). */
  val UrlRe  = """https?://[^ ]+"""
  val HostRe = """^https?://([^/?]+)"""

  /** URL/domain extraction — the provenance audit every web corpus runs:
    * pull URLs out of text, key them by host and registrable domain,
    * aggregate mentions and reach. The explode is ~urls-per-doc row
    * amplification; the groupBy(host) collapses with map-side combine, so
    * the exchange carries |distinct hosts| rows — a hot domain is an
    * aggregation key, never a join hot spot. Same deterministic
    * augmentation rationale as [[piiScrub]]. */
  val urlExtract: QueryDef = QueryDef.sql(
    "text_url_extract",
    s"""WITH a AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN text || ' see https://www.host' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) || ' ok'
      |       WHEN doc_id % 3 = 1 THEN text || ' ref http://api.svc' || CAST(doc_id % 5 AS VARCHAR) || '.example.com?q=1'
      |       ELSE text END AS aug
      |  FROM documents),
      |u AS (SELECT doc_id, unnest(regexp_extract_all(aug, '$UrlRe')) AS url FROM a),
      |h AS (SELECT doc_id, regexp_extract(url, '$HostRe', 1) AS host FROM u)
      |SELECT host,
      |       regexp_extract(host, '([a-zA-Z0-9-]+\\.[a-zA-Z]+)$$', 1) AS domain,
      |       COUNT(*) AS n_urls,
      |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM h GROUP BY host ORDER BY host""".stripMargin) { (s, d) =>
    val m = pmod(col("doc_id"), lit(3))
    // no fanOut here (unlike piiScrub): the per-row work is one extract and
    // the groupBy(host) already gives the heavy side shuffle parallelism —
    // measured: fanning out costs an input-sized exchange for nothing
    Tables.documents(s, d)
      .withColumn("aug",
        when(m === 0, concat(col("text"), lit(" see https://www.host"),
          pmod(col("doc_id"), lit(7)).cast("string"), lit(".example.org/p/"),
          col("doc_id").cast("string"), lit(" ok")))
        .when(m === 1, concat(col("text"), lit(" ref http://api.svc"),
          pmod(col("doc_id"), lit(5)).cast("string"), lit(".example.com?q=1")))
        .otherwise(col("text")))
      .select(col("doc_id"), explode(regexp_extract_all(col("aug"), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), regexp_extract(col("url"), HostRe, 1).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
      .select(col("host"),
        regexp_extract(col("host"), """([a-zA-Z0-9-]+\.[a-zA-Z]+)$""", 1).as("domain"),
        col("n_urls"), col("n_docs"))
      .orderBy("host")
  }

  /** Corpus-trained novelty: the fraction of a doc's distinct bigrams that
    * occur in NO other document — high novelty is fresh content, low
    * novelty is template/boilerplate (the integer-exact stand-in for the
    * LM-perplexity filters real pipelines run; log-prob scoring would hash
    * differently across engines on libm ulps, df counting cannot).
    * Two exchanges: bigram df (groupBy on the bigram — map-side combined,
    * a hot boilerplate bigram is an aggregation key) and the per-doc
    * rollup keyed by doc_id. */
  val bigramNovelty: QueryDef = QueryDef.sql(
    "text_bigram_novelty",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |          generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1]))) AS bg
      |      FROM t WHERE len(w) >= 2),
      |df AS (SELECT bg, COUNT(*) AS ndocs FROM b GROUP BY bg),
      |per AS (SELECT b.doc_id,
      |               COUNT(*) AS n_bigrams,
      |               COUNT(*) FILTER (WHERE df.ndocs = 1) AS n_unique
      |        FROM b JOIN df ON b.bg = df.bg GROUP BY b.doc_id)
      |SELECT d.doc_id,
      |       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       CAST(COALESCE(per.n_unique, 0) AS BIGINT) AS n_unique,
      |       CAST(COALESCE(ROUND(1000.0 * per.n_unique / per.n_bigrams), 0) AS BIGINT) AS novelty_milli
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val b = Tables.fanOut(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))).as("bg"))
    val df = b.groupBy(col("bg")).agg(count(lit(1)).as("ndocs"))
    val per = b.join(df, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("ndocs") === 1, lit(1))).as("n_unique"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(round(lit(1000.0) * col("n_unique") / col("n_bigrams")).cast("long"),
          lit(0L)).as("novelty_milli"))
      .orderBy("doc_id")
  }

  /** Corpus-unigram rarity profile: each token occurrence scored by its
    * corpus-wide count (df), rolled up per doc as total/mean/min df plus
    * the fraction of occurrences whose token appears ≤ 2 times in the
    * whole corpus. The integer-exact unigram-LM stand-in (same reasoning
    * as [[bigramNovelty]]: Σ log p would hash differently across engines
    * on libm ulps; Σ df — a BIGINT sum — cannot): boilerplate scores a
    * high mean df, noise/OOV-heavy docs a high rare fraction — the two
    * cheap ends of the perplexity filter real pipelines run.
    * Two exchanges: token df (map-side-combined groupBy on the token,
    * vocabulary-sized output) and the per-doc rollup; the df join is
    * vocabulary × occurrences, broadcastable at real scale where vocab ≪
    * corpus. */
  val unigramRarity: QueryDef = QueryDef.sql(
    "text_unigram_rarity",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |df AS (SELECT w, COUNT(*) AS cnt FROM t GROUP BY w),
      |per AS (SELECT t.doc_id,
      |               COUNT(*) AS n_tokens,
      |               SUM(df.cnt) AS sum_df,
      |               MIN(df.cnt) AS min_df,
      |               COUNT(*) FILTER (WHERE df.cnt <= 2) AS n_rare
      |        FROM t JOIN df ON t.w = df.w GROUP BY t.doc_id)
      |SELECT doc_id,
      |       CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(sum_df AS BIGINT) AS sum_df,
      |       CAST(min_df AS BIGINT) AS min_df,
      |       CAST(ROUND(1000.0 * n_rare / n_tokens) AS BIGINT) AS rare_milli,
      |       CAST(ROUND(1000.0 * sum_df / n_tokens) AS BIGINT) AS mean_df_milli
      |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
    // the token explode feeds both the df build and the scoring join:
    // materialize it once (production would stage it to parquet)
    val toks = Tables.materialize(
      Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w")))
    val df = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    toks.join(df, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_df"),
        min(col("cnt")).as("min_df"),
        count(when(col("cnt") <= 2, lit(1))).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("sum_df"), col("min_df"),
        round(lit(1000.0) * col("n_rare") / col("n_tokens")).cast("long").as("rare_milli"),
        round(lit(1000.0) * col("sum_df") / col("n_tokens")).cast("long").as("mean_df_milli"))
      .orderBy("doc_id")
  }

  /** CCNet/Gopher-style LM quality filter: score every document's
    * cross-entropy under a corpus-trained bigram language model with
    * Laplace smoothing — boilerplate and in-domain text score low, noise
    * and outliers score high, and thresholding h_milli IS the perplexity
    * filter step of a production curation pipeline.
    *
    * Model: p(w2|w1) = (c2(w1 w2) + 1) / (c1(w1) + V) with c2 = corpus
    * bigram count, c1 = corpus unigram count, V = vocabulary size;
    * H(doc) = -mean ln p over the doc's bigrams. Training and scoring are
    * the same two shuffles a 100 TB run needs (bigram count groupBy, then
    * a count-lookup join back to the doc bigrams); the model never sits on
    * the driver. V rides along as a broadcast 1-row table, not a collected
    * scalar.
    *
    * Both engines compute ln over bit-identical rationals (exact integer
    * counts), but libm differs in the last ulp (~1/2000 inputs measured)
    * and float-sum order differs across partitionings, so the ONLY emitted
    * double is the per-doc average, rounded to milli-nats (~1e-11 boundary
    * slack — the same integerize-the-ratio discipline as the rest of the
    * text family). */
  /** The bigram-LM cross-entropy pipeline as a reusable CTE chain ending
    * in `pper(doc_id, n_bigrams, h_milli)` — shared (`private[operators]`)
    * with [[QualityClassifier]]'s ensemble so the two queries' oracles
    * cannot drift; p-prefixed names avoid collisions when composed. */
  private[operators] val perplexityCte: String =
    """pt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |ptok AS (SELECT doc_id, unnest(w) AS tk FROM pt),
      |puni AS (SELECT tk, COUNT(*) AS c1 FROM ptok GROUP BY tk),
      |pv AS (SELECT COUNT(*) AS v FROM puni),
      |pb AS (SELECT doc_id,
      |        unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
      |        unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bigram
      |      FROM pt WHERE len(w) >= 2),
      |pc2 AS (SELECT bigram, COUNT(*) AS c2 FROM pb GROUP BY bigram),
      |pper AS (SELECT pb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |               CAST(ROUND(-1000.0 * SUM(ln((pc2.c2 + 1.0) / (puni.c1 + pv.v))) / COUNT(*)) AS BIGINT) AS h_milli
      |        FROM pb JOIN pc2 USING (bigram) JOIN puni ON pb.w1 = puni.tk CROSS JOIN pv
      |        GROUP BY pb.doc_id)""".stripMargin

  /** Spark counterpart of [[perplexityCte]]: per-doc (doc_id, n_bigrams,
    * h_milli) for docs with ≥ 1 bigram. */
  private[operators] def perplexityScores(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val toks = docs.select(col("doc_id"), explode(col("w")).as("tk"))
    val uni = toks.groupBy(col("tk")).agg(count(lit(1)).as("c1"))
    val v = uni.agg(count(lit(1)).as("v"))
    val b = Tables.materialize(docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("w1"),
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)).as("bigram")))).as("e"))
      .select(col("doc_id"), col("e.w1"), col("e.bigram")))
    val c2 = b.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    b.join(c2, Seq("bigram"))
      .join(uni, b("w1") === uni("tk"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("c2") + lit(1.0)) / (col("c1") + col("v")))).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(lit(-1000.0) * col("s") / col("n_bigrams")).cast("long").as("h_milli"))
  }

  /** [[perplexityScores]] as a train-once [[graft.sources.ModelStore]]
    * artifact — the NB-family precedent (round 12): the bigram LM is fit
    * once per corpus content and every consumer (`text_lm_perplexity`,
    * `quality_ensemble`'s LM gate) reads the persisted per-doc score
    * table instead of re-deriving the bigram counts per query. The
    * retrain-from-scratch oracles stay on every consumer — the stronger
    * check (they verify the served artifact equals a fresh fit). */
  private[operators] def perplexityArtifact(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "lmppl") {
      perplexityScores(s, d)
    }

  val lmPerplexity: QueryDef = QueryDef.sql(
    "text_lm_perplexity",
    s"""WITH $perplexityCte
      |SELECT doc_id, n_bigrams, h_milli
      |FROM pper ORDER BY doc_id""".stripMargin) { (s, d) =>
    perplexityArtifact(s, d).orderBy("doc_id")
  }

  /** BM25 retrieval scoring (Robertson k1 = 1.2, b = 0.75, Lucene's
    * always-positive idf) — the lexical-retrieval complement of the kNN
    * family: given query terms, rank the corpus and keep the top 20. The
    * query terms are themselves derived relationally (the 3 highest-df
    * tokens of length ≥ 4, df-desc then token-asc — deterministic, no
    * driver round-trip), so the whole operator is corpus-in, ranking-out.
    *
    * Shape at 100 TB: the tokenize/df/doc-length pass is paid ONCE per
    * corpus content into the [[bm25Terms]]/[[bm25Df]]/[[bm25Stats]]
    * artifacts (the index build); serving probes the persisted term table
    * with the 3-row term set and 1-row corpus stats riding as broadcasts —
    * a scan-local join + one groupBy(doc_id), no all-pairs, no sort of the
    * corpus (TakeOrdered keeps 20 per partition).
    *
    * Float discipline (the [[lmPerplexity]] precedent): every input to the
    * formula is an exact integer; both engines evaluate the SAME expression
    * shape over doubles cast from those integers, and the only emitted
    * double is milli-rounded. The final rank orders by the ROUNDED integer
    * (then doc_id), never by the raw double. */

  /** BM25 serving artifacts — the Lucene posture: index once, serve many
    * queries. Three [[graft.sources.ModelStore]] tables keyed on the corpus
    * content: `bm25_terms` (doc_id, tk, tf, dl) — the per-document term
    * table, i.e. the rows of an inverted index; `bm25_df` (tk, df) — the
    * vocabulary-sized document-frequency table; `bm25_stats` — the 1-row
    * (n_docs, sum_dl) corpus statistics. df and stats derive FROM the
    * persisted term table, so the corpus tokenize/explode/countDistinct
    * pass runs once per corpus content, never per query — every lexical
    * serving path (`text_bm25_topk`, `text_bm25_perquery`,
    * `retrieval_rrf_hybrid`'s lexical leg) probes these three tables. The
    * retrain-from-scratch oracles stay: they verify the served index
    * equals a fresh tokenize. */
  private[operators] def bm25Terms(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "bm25_terms") {
      val tok = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      val tf = tok.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      tf.join(dl, Seq("doc_id"))
    }

  private[operators] def bm25Df(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "bm25_df") {
      bm25Terms(s, d).groupBy(col("tk")).agg(count(lit(1)).as("df"))
    }

  private[operators] def bm25Stats(s: SparkSession, d: String): DataFrame =
    graft.sources.ModelStore.getOrBuild(s, d, "documents.parquet", "bm25_stats") {
      bm25Terms(s, d).groupBy(col("doc_id")).agg(min(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    }

  /** The per-query term sets of the query family (query q = document q,
    * q < 10; terms = q's 3 most corpus-frequent tokens of length ≥ 4, df
    * DESC then token ASC): the 10 query docs' rows of the term table
    * joined to the vocabulary df table — the row_number window's input is
    * bounded by the query set, never the corpus. ONE definition shared by
    * [[bm25PerQuery]] and [[Retrieval.rm3Expansion]]'s first pass (whose
    * feedback set must come from EXACTLY this ranking). */
  private[operators] def bm25QueryTerms(s: SparkSession, d: String): DataFrame = {
    val qt = bm25Terms(s, d).filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("tk"))
      .join(bm25Df(s, d), Seq("tk"))
      .filter(length(col("tk")) >= 4)
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("df").desc, col("tk"))
    qt.withColumn("r", row_number().over(qw))
      .filter(col("r") <= 3).select(col("query_id"), col("tk"), col("df"))
  }

  /** The shared BM25 term-score expression over (tf, df, dl, n_docs,
    * sum_dl) columns — expression shapes mirror the oracle token-for-token:
    * every operand is cast from an exact integer, each IEEE op appears
    * once, same order. */
  private[operators] def bm25TermScore: Column = bm25Score(identity)

  /** Oracle CTEs `tok(doc_id, tk)`, `dl`, `stats(n_docs, sum_dl)` and
    * `dfreq(tk, df)`: the replay of the BM25 index artifacts. */
  private val bm25IndexCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
      |dfreq AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tk)""".stripMargin

  /** The oracle of [[bm25TermScore]] summed over a query's terms, as `s`,
    * over `tf`, `qterms`, `dl` and `stats` CTEs. */
  private[operators] val bm25SumSql: String =
    """SUM( ln((CAST(stats.n_docs - qterms.df AS DOUBLE) + 0.5)
      |                / (CAST(qterms.df AS DOUBLE) + 0.5) + 1.0)
      |             * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |             / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |                * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |                   * CAST(dl.dl * stats.n_docs AS DOUBLE)
      |                   / CAST(stats.sum_dl AS DOUBLE))) ) AS s""".stripMargin

  /** The BM25 term score with `idf` applied to its log term first. */
  private def bm25Score(idf: Column => Column): Column =
    idf(log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))) *
      (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) *
          (col("dl") * col("n_docs")).cast("double") /
          col("sum_dl").cast("double")))

  /** [[bm25TermScore]] with a per-term interpolation weight `w` — the RM3
    * pass-2 score. The weight multiplies the idf FIRST (`((w·ln)·num)/den`)
    * because that is the left-associative shape the DuckDB oracle's
    * `a.wq * ln(...) * (...) / (...)` evaluates: with a non-representable
    * weight like 0.4, `w·(ln·num/den)` can differ from the oracle by an
    * ulp and flip a milli-rounding — the same every-IEEE-op-appears-once-
    * in-the-same-order discipline the unweighted expression documents. */
  private[operators] def bm25TermScoreWeighted(w: Column): Column =
    bm25Score(w * _)
  val bm25TopK: QueryDef = QueryDef.sql(
    "text_bm25_topk",
    s"""WITH $bm25IndexCtes,
      |qterms AS (SELECT tk, df FROM dfreq WHERE length(tk) >= 4
      |           ORDER BY df DESC, tk LIMIT 3),
      |tf AS (SELECT tok.doc_id, tok.tk, COUNT(*) AS tf
      |       FROM tok JOIN qterms ON tok.tk = qterms.tk
      |       GROUP BY tok.doc_id, tok.tk),
      |scored AS (SELECT tf.doc_id, MIN(dl.dl) AS dl,
      |        $bm25SumSql
      |        FROM tf JOIN qterms ON tf.tk = qterms.tk
      |             JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |        GROUP BY tf.doc_id)
      |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
      |       CAST(ROUND(1000.0 * s) AS BIGINT) AS milli_score
      |FROM scored ORDER BY milli_score DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    // serving reads the persisted index: qterms off the vocabulary-sized
    // df artifact, tf+dl off the per-doc term table, stats off the 1-row
    // artifact — no corpus tokenize per run
    val qterms = bm25Df(s, d).filter(length(col("tk")) >= 4)
      .orderBy(col("df").desc, col("tk")).limit(3)
    bm25Terms(s, d).join(broadcast(qterms), Seq("tk"))
      .crossJoin(broadcast(bm25Stats(s, d)))
      .groupBy(col("doc_id"))
      .agg(min(col("dl")).as("dl"), sum(bm25TermScore).as("s"))
      .select(col("doc_id"), col("dl").cast("long").as("dl"),
        round(lit(1000.0) * col("s")).cast("long").as("milli_score"))
      .orderBy(col("milli_score").desc, col("doc_id")).limit(20)
  }

  /** PER-QUERY BM25 — the serving form real hybrid retrieval runs: each
    * query has its OWN term set and its own ranking, where [[bm25TopK]]
    * ranks one corpus-derived term set (the round-12 verdict's documented
    * simplification, now closed). The query set mirrors the dense leg's
    * (`knn_cosine_bruteforce`: vec_id < 10): query q is DOCUMENT q, and its
    * terms are that document's 3 most corpus-frequent tokens of length ≥ 4
    * (corpus df DESC, then token ASC — deterministic); the query document
    * itself is excluded from its candidates, exactly as the dense leg
    * excludes self-matches. Same Robertson k1=1.2/b=0.75 scoring, same
    * milli-rounded-integer rank discipline.
    *
    * Shape at 100 TB: everything reads the train-once BM25 index artifacts
    * — the per-query term derivation touches only the QUERY documents' rows
    * of the term table joined to the vocabulary-sized df table (a bounded,
    * query-set-sized window), scoring is one scan-local join keyed
    * (query_id, term) against the term table with the |queries|·3-row term
    * set broadcast, and the per-query top-20 runs through the bounded-heap
    * [[graft.plans.TopKPerGroup]] tail — no corpus sort, no window over
    * scored rows. */
  val bm25PerQuery: QueryDef = QueryDef.sql(
    "text_bm25_perquery",
    s"""WITH $bm25IndexCtes,
      |qtok AS (SELECT DISTINCT doc_id AS query_id, tk FROM tok
      |         WHERE doc_id < 10 AND length(tk) >= 4),
      |qterms AS (SELECT query_id, tk, df FROM (
      |            SELECT q.query_id, q.tk, dfreq.df,
      |                   ROW_NUMBER() OVER (PARTITION BY q.query_id
      |                     ORDER BY dfreq.df DESC, q.tk) AS r
      |            FROM qtok q JOIN dfreq ON q.tk = dfreq.tk) WHERE r <= 3),
      |tf AS (SELECT tok.doc_id, tok.tk, COUNT(*) AS tf
      |       FROM tok JOIN (SELECT DISTINCT tk FROM qterms) qt ON tok.tk = qt.tk
      |       GROUP BY tok.doc_id, tok.tk),
      |scored AS (SELECT qterms.query_id, tf.doc_id,
      |        $bm25SumSql
      |        FROM tf JOIN qterms ON tf.tk = qterms.tk
      |             JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |        WHERE tf.doc_id <> qterms.query_id
      |        GROUP BY qterms.query_id, tf.doc_id),
      |r AS (SELECT query_id, doc_id,
      |             CAST(ROUND(1000.0 * s) AS BIGINT) AS milli_score,
      |             ROW_NUMBER() OVER (PARTITION BY query_id
      |               ORDER BY CAST(ROUND(1000.0 * s) AS BIGINT) DESC, doc_id) AS rnk
      |      FROM scored)
      |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
      |       milli_score, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 20 ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val terms = bm25Terms(s, d)
    val qterms = bm25QueryTerms(s, d)
    val scored = terms.join(broadcast(qterms), Seq("tk"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(bm25Stats(s, d)))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(bm25TermScore).as("s"))
      .select(col("query_id"), col("doc_id"),
        round(lit(1000.0) * col("s")).cast("long").as("milli_score"))
    graft.plans.TopKPerGroup(scored, Seq(col("query_id")),
        col("milli_score"), col("doc_id"), 20)
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(
        negate(col("milli_score")).as("neg_score"),
        col("doc_id").as("doc_id"),
        col("milli_score").as("milli_score")))).as("ranked"))
      .select(col("query_id"), posexplode(col("ranked")).as(Seq("i", "x")))
      .select(col("query_id").cast("long").as("query_id"),
        col("x.doc_id").as("doc_id"), col("x.milli_score").as("milli_score"),
        (col("i") + 1).cast("long").as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Incremental document-frequency maintenance: the corpus statistic every
    * curation signal above (rarity, BM25, LM training) is built on, kept
    * fresh across snapshots WITHOUT re-scanning history. The history df
    * store is a train-once artifact persisted through the real bucketed
    * write path (bucketed on the term, like the dedup family's stores); a
    * new batch contributes only its own O(batch tokens) distinct-count, and
    * the merge is a full-outer join the store enters IN PLACE — at 100 TB
    * daily cost is the day's tokens plus a vocabulary-sized join, never the
    * corpus. In production the merged frame is written back bucketed as the
    * next snapshot's store (same `writeBucketed` call that built this one);
    * the query emits the merged table with the hist/batch split and a
    * new-term flag so the oracle pins every cell. */
  val dfIncremental: QueryDef = QueryDef.sql(
    "text_df_incremental",
    """WITH lists AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT DISTINCT doc_id, unnest(ws) AS w FROM lists),
      |h AS (SELECT w, COUNT(*) AS df_hist FROM tok WHERE doc_id % 10 < 8 GROUP BY w),
      |b AS (SELECT w, COUNT(*) AS df_batch FROM tok WHERE doc_id % 10 >= 8 GROUP BY w)
      |SELECT COALESCE(h.w, b.w) AS term,
      |       CAST(COALESCE(h.df_hist, 0) AS BIGINT) AS df_hist,
      |       CAST(COALESCE(b.df_batch, 0) AS BIGINT) AS df_batch,
      |       CAST(COALESCE(h.df_hist, 0) + COALESCE(b.df_batch, 0) AS BIGINT) AS df_total,
      |       h.w IS NULL AS is_new_term
      |FROM h FULL OUTER JOIN b ON h.w = b.w
      |ORDER BY term""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    def dfOf(part: DataFrame): DataFrame = part
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val store = graft.sources.ModelStore.table(s, d, "documents.parquet",
        "df_store", Some("w")) {
      dfOf(docs.filter(col("doc_id") % 10 < 8)).withColumnRenamed("df", "df_hist")
    }
    val batch = dfOf(docs.filter(col("doc_id") % 10 >= 8))
      .withColumnRenamed("df", "df_batch")
    store.withColumnRenamed("w", "hw")
      .join(batch, col("hw") === col("w"), "full_outer")
      .select(coalesce(col("hw"), col("w")).as("term"),
        coalesce(col("df_hist"), lit(0L)).cast("long").as("df_hist"),
        coalesce(col("df_batch"), lit(0L)).cast("long").as("df_batch"),
        (coalesce(col("df_hist"), lit(0L)) + coalesce(col("df_batch"), lit(0L)))
          .cast("long").as("df_total"),
        col("hw").isNull.as("is_new_term"))
      .orderBy("term")
  }

  /** TF-IDF keyword extraction: the top-5 most characteristic terms per
    * document — the classic cheap topic signal (and the feature the BM25
    * retrieval score above generalizes). The idf here is the RATIONAL
    * N/df, not log(N/df): the log is order-preserving (log is monotonic,
    * and ranking is all a keyword list needs), while the rational keeps
    * the whole score in exact BIGINT arithmetic —
    * `score_milli = (1000·tf·N) div df` — so both engines hash identical
    * integers instead of trusting two libms to round `ln` the same way
    * (the same integerization discipline as every ratio in this file).
    *
    * Plan shape: tf is one map-side-combined groupBy over the token
    * explode; df is a groupBy over the vocabulary-sized tf table; the
    * df/term-id side of the join is vocabulary-sized and broadcast. The
    * per-doc top-5 runs through the native [[graft.plans.TopKPerGroup]]
    * two-phase heap tail — no Sort/Window of the corpus-token-scale
    * scored table ever exists, the same contract the kNN serving paths
    * pin in KnnPlanSpec. The term-id dictionary (tie-break must be a
    * LONG) is a row_number over the SORTED VOCABULARY — a bounded,
    * vocabulary-sized sort, the same cost class as the langid profile
    * build, never a corpus sort.
    *
    * Exactness: TopKPerGroup ranks on `score_milli` natively as BIGINT
    * (round 11 — the operator accepts LONG scores directly), so rank
    * order is exact at the full 64-bit range; the earlier 2^53
    * double-cast bound is gone entirely. */
  val tfidfKeywords: QueryDef = QueryDef.sql(
    "text_tfidf_keywords",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
      |                  (1000 * tf.tf * n.n) // df.df AS score_milli
      |           FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
      |ranked AS (SELECT *, ROW_NUMBER() OVER (
      |             PARTITION BY doc_id ORDER BY score_milli DESC, w) AS rnk
      |           FROM scored)
      |SELECT doc_id, w AS term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |       CAST(score_milli AS BIGINT) AS score_milli
      |FROM ranked WHERE rnk <= 5
      |ORDER BY doc_id, score_milli DESC, term""".stripMargin) { (s, d) =>
    // tf, df, and n are exactly the persisted BM25 index tables
    // ([[bm25Terms]]/[[bm25Df]]/[[bm25Stats]] — round 13): tf-idf serving
    // probes the same train-once inverted index the lexical retrieval legs
    // serve from, instead of re-tokenizing the corpus per run. The oracle
    // still retrains from scratch — the stronger check.
    val tf = bm25Terms(s, d).select(col("doc_id"), col("tk").as("w"), col("tf"))
    // df + alphabetical term id, both vocabulary-sized (broadcast side)
    val df = bm25Df(s, d).select(col("tk").as("w"), col("df"))
      .withColumn("term_id", row_number().over(Window.orderBy(col("w"))).cast("long"))
    // N must match the oracle's COUNT(*) FROM documents EXACTLY — the
    // artifact's n_docs counts only docs that produced term rows, which a
    // NULL-text document would not, so it is NOT a substitute (a
    // footer-count aggregate is ~free anyway)
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(df), Seq("w")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"), col("tf"), col("df"), col("term_id"),
        expr("(1000 * tf * n) div df").as("score_milli"))
    graft.plans.TopKPerGroup(scored, Seq(col("doc_id")),
        col("score_milli"), col("term_id"), 5)
      .select(col("doc_id"), col("w").as("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("score_milli").cast("long").as("score_milli"))
      .orderBy(col("doc_id"), col("score_milli").desc, col("term"))
  }

  /** PMI collocation mining: the top-50 adjacent word pairs whose joint
    * frequency most exceeds chance — the standard phrase/multi-word-
    * expression detector (Church & Hanks 1990) run before tokenizer or
    * vocab construction. Marginals come from the bigram table itself
    * (left-slot and right-slot counts), the standard contingency-table
    * formulation, so the score is the pure rational
    * `1000·c(x,y)·N / (c(x,·)·c(·,y))` — one BIGINT expression per pair,
    * floor-divided, hash-exact across engines; log-PMI would rank
    * identically (log is monotonic) but cost cross-engine libm trust.
    * Pairs below MinPairCount are noise-filtered first, the classic PMI
    * low-count correction.
    *
    * Plan shape: one bigram explode (linear), one map-side-combined
    * groupBy to c(x,y); both marginals are groupBys OVER THE PAIR TABLE
    * (vocabulary²-bounded, in practice vocabulary-sized), broadcast back;
    * the global top-50 is TakeOrdered — never a full sort. */
  val pmiCollocations: QueryDef = QueryDef.sql(
    "text_pmi_collocations",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT w[i] AS l, w[i+1] AS r
      |       FROM t, unnest(generate_series(1, len(w)-1)) AS u(i)
      |       WHERE len(w) >= 2),
      |cxy AS (SELECT l, r, COUNT(*) AS c FROM bg GROUP BY l, r),
      |n AS (SELECT SUM(c) AS n FROM cxy),
      |cl AS (SELECT l, SUM(c) AS cl FROM cxy GROUP BY l),
      |cr AS (SELECT r, SUM(c) AS cr FROM cxy GROUP BY r)
      |SELECT cxy.l, cxy.r, CAST(cxy.c AS BIGINT) AS pair_count,
      |       CAST(CAST(1000 AS HUGEINT) * cxy.c * n.n // (CAST(cl.cl AS HUGEINT) * cr.cr) AS BIGINT) AS pmi_milli
      |FROM cxy JOIN cl ON cxy.l = cl.l JOIN cr ON cxy.r = cr.r CROSS JOIN n
      |WHERE cxy.c >= 5
      |ORDER BY pmi_milli DESC, cxy.l, cxy.r LIMIT 50""".stripMargin) { (s, d) =>
    pmiOn(s, d)
  }

  /** The PMI plan body. Both marginal joins pin shuffle_hash, paying one
    * exchange of the (filtered, vocabulary-bounded) pair stream per
    * marginal join. The r22 same-JVM A/B against gated-broadcast
    * marginals (OPTIMIZATION_r22.md §pmi; min/med of 6 runs per arm):
    * shuffle_hash 0.751/0.936 s vs broadcast 0.832/0.904 s at c32,
    * 0.598/0.782 vs 0.646/0.835 at c8 — the broadcast arm's |cxy| gate
    * probe cost more than the two small exchanges it saved. */
  private[graft] def pmiOn(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // generator-then-project (the spanHashes discipline, r19): the struct-
    // building transform lambda ran INTERPRETED per bigram
    val bg = Tables.fanOut(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(element_at(col("w"), col("i")).as("l"),
        element_at(col("w"), col("i") + 1).as("r"))
    // cxy feeds FOUR consumers (the corpus total, both marginals, and the
    // scored pairs) — without the cache each broadcast subtree re-ran the
    // corpus-scale bigram explode + aggregate from the scan (r19; this was
    // the query's whole tail)
    val cxy = Tables.materialize(
      bg.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c")))
    val n = cxy.agg(sum(col("c")).as("n"))
    val cl = cxy.groupBy(col("l")).agg(sum(col("c")).as("cl"))
    val cr = cxy.groupBy(col("r")).agg(sum(col("c")).as("cr"))
    // marginals are VOCABULARY-scale (Heaps' law: sublinear in corpus but
    // tens of millions of tokens at 100 TB) and generator-fed, so their
    // size estimates are suppressed — an estimator-trusted broadcast here
    // was the r19 cliff shape; both joins pin shuffle_hash instead. The
    // corpus total `n` stays unconditionally broadcast: a keyless
    // aggregate is ONE row by construction.
    cxy.filter(col("c") >= 5)
      .join(cl.hint("shuffle_hash"), Seq("l"))
      .join(cr.hint("shuffle_hash"), Seq("r"))
      .crossJoin(broadcast(n))
      .select(col("l"), col("r"), col("c").cast("long").as("pair_count"),
        // 1000·c·n passes 2^63 at corpus scale (n ~ 10^13 bigrams at
        // 100 TB) and so can the cl·cr denominator: exact floor-division
        // in 38-digit decimals (DuckDB: HUGEINT) — the basket-lift
        // wide-integer discipline
        expr("(CAST(1000 AS DECIMAL(38,0)) * c * n) div (CAST(cl AS DECIMAL(38,0)) * cr)")
          .cast("long").as("pmi_milli"))
      .orderBy(col("pmi_milli").desc, col("l"), col("r")).limit(50)
  }

  val all: Seq[QueryDef] = Seq(langId, langIdEval, quality, gopherRules, charEntropy,
    tokenCount, fingerprintQuery, clean,
    topNgrams, piiScrub, urlExtract, bigramNovelty, unigramRarity, lmPerplexity,
    bm25TopK, bm25PerQuery, dfIncremental, tfidfKeywords, pmiCollocations)
}
