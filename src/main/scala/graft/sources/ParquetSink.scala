package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Batch write path: partitioned (and optionally bucketed) parquet layout —
  * the storage posture every 100 TB table here assumes (SURVEY.md §2.1
  * "Scans"; the test tables are unpartitioned single files only because the
  * driver generates them that way).
  *
  *  - `partitionBy` columns become directory keys → partition pruning turns
  *    a predicate on them into a directory listing, skipping file IO
  *    entirely (verified by ParquetSinkSpec via the plan's partitionFilters).
  *  - bucketing co-locates join/agg keys at write time so later joins on
  *    the bucket key skip their shuffle (saveAsTable-only in Spark, hence
  *    kept behind a separate method — the bench tables are path-based).
  */
object ParquetSink {

  /** Write `df` bucketed+sorted by `key` into `numBuckets` as a managed
    * table; joins between two tables bucketed the same way plan with zero
    * exchanges on the bucket key.
    *
    * Two robustness properties, both spec-pinned (ParquetSinkSpec):
    *
    *  - **Idempotent ACROSS JVMs.** `mode("overwrite")` only overwrites a
    *    table the *current catalog* knows about; a fresh JVM's in-memory
    *    catalog is empty while the managed location (`<warehouse>/<table>`)
    *    may survive on disk from a prior process, making a plain
    *    `saveAsTable` throw `LOCATION_ALREADY_EXISTS`. Stale state is
    *    cleared via [[dropWithLocation]] before each write.
    *  - **The previous table survives a failed write.** The new data is
    *    staged to `<table>__staging` first; the live table is dropped and
    *    the staging table renamed into place ONLY after the staging write
    *    committed. If evaluating `df` throws, the old store — for the
    *    fingerprint store, the pipeline's only dedup history — is intact.
    *    (The final drop+rename pair itself is not transactional; the
    *    window is two catalog calls on written data, not a data write.) */
  def writeBucketed(df: DataFrame, table: String, key: String, numBuckets: Int): DataFrame =
    // repartition on the bucket key FIRST: bucketed writes emit one file per
    // (task, bucket) pair, so an unaligned upstream partitioning writes up
    // to tasks×buckets tiny files (measured 5 s on a 112k-row store — the
    // file-per-bucket explosion, not the data). repartition's Murmur3
    // HashPartitioning is exactly the bucket hash, so after it each task
    // holds one whole bucket → numBuckets files, and the exchange it adds
    // is the same one the bucketed layout conceptually requires anyway.
    writeStaged(df.repartition(numBuckets, org.apache.spark.sql.functions.col(key)),
      table)(_.bucketBy(numBuckets, key).sortBy(key))

  /** Same staged overwrite for an UNBUCKETED managed table — the right form
    * for small broadcast-side tables (a stoplist, a dimension): bucketing
    * only pays on the shuffled side of a join, and the bucketed write's
    * per-bucket files are pure overhead for a table that ships whole. */
  def writeTable(df: DataFrame, table: String): DataFrame =
    writeStaged(df, table)(identity)

  private def writeStaged(df: DataFrame, table: String)(
      configure: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): DataFrame = {
    val spark = df.sparkSession
    val staging = table + "__staging"
    dropWithLocation(spark, staging)
    configure(df.write).saveAsTable(staging)
    dropWithLocation(spark, table)
    // managed-table rename moves the staging directory to the table's path
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    // the session caches file listings per table name: a reader that saw a
    // previous incarnation of `table` would otherwise read the old listing
    spark.catalog.refreshTable(table)
    // a PARTITIONED table's catalog partition entries still carry absolute
    // locations under the staging directory after the rename — rebuild them
    // from the renamed directory tree or every scan resolves to zero files
    if (spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .partitionColumnNames.nonEmpty)
      spark.catalog.recoverPartitions(table)
    spark.table(table)
  }

  /** Keyed MERGE/upsert — the lakehouse primitive the append-only stores
    * lack: fold `batch` into the bucketed managed table `table`,
    * LAST-WRITER-WINS per `key` — a batch row REPLACES the stored row
    * carrying its key, unmatched batch rows INSERT, unmatched store rows
    * CARRY OVER (ANSI MERGE's WHEN MATCHED UPDATE + WHEN NOT MATCHED
    * INSERT applied batch-at-a-time). Without this, a re-crawled page that
    * CHANGED (same canonical key, new content) could only be appended
    * beside its stale row. The batch must be KEYED — at most one row per
    * key — which is MERGE's own contract (a multi-match update is
    * nondeterministic); callers collapse first (arg-max by arrival order,
    * typically).
    *
    * Shape: one join — the store enters as the bucketed scan IN PLACE
    * (left_anti on the batch's keys drops superseded rows without moving
    * history), the union lands through the SAME staged bucketed write
    * that built the store, so a crash mid-merge leaves the previous
    * generation live (the [[writeStaged]] survival rule) and the new
    * generation is bucketed identically for the next probe or merge. At
    * 100 TB the cost is O(store + batch) IO — the copy-on-write MERGE
    * posture; a deletion-vector/manifest format would trade that IO for
    * read-side merge work — but only O(batch) compute above the scans,
    * and the store side never exchanges. Returns the merged table. */
  def mergeBucketed(batch: DataFrame, table: String, key: String): DataFrame = {
    val spark = batch.sparkSession
    val buckets = bucketCount(spark, table).getOrElse(throw new IllegalArgumentException(
      s"mergeBucketed: `$table` is not a bucketed table — merge targets " +
        "must be writeBucketed stores (the bucket layout is what keeps the " +
        "store side of the merge and every later probe exchange-free)"))
    // the batch lineage is evaluated three times (the keyed-batch check,
    // the anti-join's key side, the union): persist for the duration so a
    // caller passing an expensive unmaterialized batch pays its upstream
    // plan once, not per consumer (advisor round 13)
    val b = batch.persist()
    try {
      requireKeyedBatch(b, key, "mergeBucketed")
      val merged = spark.table(table)
        .join(b.select(col(key)), Seq(key), "left_anti")
        .unionByName(b)
      writeBucketed(merged, table, key, buckets)
    } finally b.unpersist()
  }

  /** Write `df` PARTITIONED by `partCol` (directory keys — partition
    * pruning on read AND on merge) and bucketed+sorted by `key` WITHIN each
    * partition — the two-level layout a 100 TB keyed store actually uses:
    * the partition column (a key range / hash band / date) bounds which
    * directories any operation touches, the bucket layout keeps key joins
    * exchange-free within them. This is the store layout
    * [[mergePartitionedBucketed]] needs to rewrite ONLY touched partitions
    * instead of [[mergeBucketed]]'s full copy-on-write. Same staged-swap
    * crash safety as every managed-table write here. */
  def writePartitionedBucketed(df: DataFrame, table: String, partCol: String,
      key: String, numBuckets: Int): DataFrame =
    // repartition on the bucket key first (the writeBucketed file-count
    // rationale): each task holds one bucket and emits ≤ one file per
    // partition directory → |partitions| × numBuckets files total
    writeStaged(df.repartition(numBuckets, col(key)), table)(
      _.partitionBy(partCol).bucketBy(numBuckets, key).sortBy(key))

  /** The keyed-batch MERGE precondition shared by both merge forms: at most
    * one batch row per key, failed loud (an unkeyed batch would silently
    * break the store's one-row-per-key invariant for every later probe and
    * merge) — one aggregation job over the batch only, never the store. */
  private def requireKeyedBatch(batch: DataFrame, key: String, op: String): Unit = {
    val dupKey = batch.groupBy(col(key)).count().filter(col("count") > 1).limit(1)
      .collect()
    if (dupKey.nonEmpty) throw new IllegalArgumentException(
      s"$op: batch carries ${dupKey.head.get(0)} more than once on " +
        s"key `$key` — MERGE requires at most one batch row per key (a " +
        "multi-match update is nondeterministic); collapse the batch first " +
        "(arg-max by arrival order, typically)")
  }

  /** PARTITION-PRUNED keyed MERGE into a [[writePartitionedBucketed]]
    * store: identical last-writer-wins semantics to [[mergeBucketed]], but
    * only partitions CONTAINING BATCH KEYS are rewritten — untouched
    * partitions' files are left byte-identical on disk (ParquetSinkSpec
    * pins this with before/after checksums). This is the copy-on-write
    * mitigation the full-table MERGE documents: at 100 TB with daily
    * batches, a date/key-range-partitioned store rewrites the touched
    * slice, not the corpus.
    *
    * Contract: `partCol` must be a pure function of the key (or of the
    * row's immutable identity) so a key's replacement lands in the same
    * partition its stale row occupies — otherwise the stale row would
    * survive in an untouched partition. The rewrite is Spark's dynamic
    * partition overwrite (only partitions present in the merged output are
    * replaced), committed per job; a crash mid-write leaves some touched
    * partitions old and some new — the state-store frontier of
    * [[graft.streaming.StreamingOps.urlMergeStream]], committed with each
    * micro-batch, is the stronger-isolation alternative when that window
    * matters. Returns the merged table. */
  def mergePartitionedBucketed(batch: DataFrame, table: String,
      partCol: String, key: String): DataFrame = {
    val spark = batch.sparkSession
    val buckets = bucketCount(spark, table).getOrElse(throw new IllegalArgumentException(
      s"mergePartitionedBucketed: `$table` is not a bucketed table — merge " +
        "targets must be writePartitionedBucketed stores"))
    val b = batch.persist()
    try {
      requireKeyedBatch(b, key, "mergePartitionedBucketed")
      // the touched-partition list is bounded by the batch's distinct
      // partition values (≪ partition count by design), so the collect is a
      // driver-side pruning predicate, not data movement
      val touched = b.select(col(partCol)).distinct().collect().map(_.get(0)).toSeq
      val slice = spark.table(table).filter(col(partCol).isInCollection(touched))
      val cols = spark.table(table).columns.toIndexedSeq
      val merged = slice
        .join(b.select(col(key)), Seq(key), "left_anti")
        .unionByName(b.select(cols.map(col): _*))
      // insertInto is position-based: project to the table's column order
      // (partition column last), then dynamic-overwrite — only the touched
      // partitions are replaced, every other directory is never opened.
      // The merged slice is eagerly localCheckpoint'ed first: its plan reads
      // the very table being overwritten (UNSUPPORTED_OVERWRITE otherwise),
      // and the slice is touched-partitions-sized by design, so snapshotting
      // it is batch-scale, not store-scale. The dynamic mode must be the
      // SESSION conf for catalog-table inserts (the writer-level option is
      // honored only for path-based writes — measured: a full overwrite
      // deleted every untouched partition), restored afterwards.
      val snap = merged.select(cols.map(col): _*)
        .localCheckpoint(true)
        .repartition(buckets, col(key))
      insertDynamicOverwrite(snap, table)
      spark.table(table)
    } finally b.unpersist()
  }

  /** Dynamic-partition-overwrite insert of [[mergePartitionedBucketed]]:
    * only partitions present in `out` are replaced, every other directory
    * is never opened. The dynamic mode must be the SESSION conf for
    * catalog-table inserts (the writer-level option is honored only for
    * path-based writes — measured: a full overwrite deleted every
    * untouched partition), restored afterwards. The flip is session-global
    * for the insert's duration; the synchronized block keeps two
    * in-process ParquetSink writers from interleaving a static-overwrite
    * write into the window (the ingest loops' path-based writes are
    * unaffected either way — they pass the writer-level option, which path
    * writes DO honor). A caller driving non-ParquetSink overwrite-mode
    * inserts concurrently on the same session must serialize against this
    * method itself. */
  private def insertDynamicOverwrite(out: DataFrame, table: String): Unit = {
    val spark = out.sparkSession
    ParquetSink.synchronized {
      val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out.write.mode("overwrite").insertInto(table)
      } finally
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    }
    spark.catalog.refreshTable(table)
  }

  /** Recover the bucket count a table was written with — the read side of
    * the bucketing contract: a later session gets the exchange-free
    * bucket-join plan only if its `spark.sql.shuffle.partitions` matches
    * this recorded count (see [[graft.operators.Dedup.storeBuckets]]). */
  def bucketCount(spark: SparkSession, table: String): Option[Int] =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  /** Drop `table` and clear its DEFAULT managed location — but only when
    * that location is actually ours to clear: when the catalog entry is a
    * managed table (whose data lives there) or when no entry exists at all
    * (an orphan directory left by a dead JVM). An EXTERNAL entry's data
    * lives elsewhere and a default-path directory alongside it is not this
    * table's data, so it is left alone. */
  private def dropWithLocation(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val clearDefaultPath = !catalog.tableExists(id) ||
      catalog.getTableMetadata(id).tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (clearDefaultPath) {
      val loc = new org.apache.hadoop.fs.Path(catalog.defaultTablePath(id))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }
}
