package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver's parquet tables (TESTDATA.md). Bare
  * `spark.read.parquet` so Catalyst pushes filters/pruning into the scan —
  * at 100 TB these would be partitioned/bucketed external tables, and every
  * query here only ever expresses logical plans on top, so the swap is a
  * one-line change. */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")

  /** Events with `ts` normalized to a canonical LongType epoch-nanos column,
    * whatever physical type the parquet carries. The testdata generator has
    * shipped `ts` both as TIMESTAMP(NANOS) (read as long under nanosAsLong)
    * and as timestamp[us] (read as TimestampType); downstream operators do
    * exact integer-nanos arithmetic (doubles corrupt ns epochs past 2^53),
    * so the one load boundary absorbs the drift instead of five queries.
    * `unix_micros * 1000` is exact — micros fit 2^63 for ±292k years.
    * Pushdown note: no registered query filters on raw `ts` at the scan, so
    * rewriting the column costs no pushed predicate; a query that needs
    * ts-pruning at 100 TB should read the physical column via `t(_,_,
    * "events")` and prune on partition columns instead. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      // timestamp[us] parquet: NTZ when isAdjustedToUTC=false (the pandas
      // writer's default), TZ otherwise. The NTZ→TZ cast interprets the
      // wall-clock in the session timezone — graft sessions pin UTC, so
      // the resulting micros equal DuckDB's epoch_us reading of the same
      // naive column.
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions
          .expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case _ => raw // already integer nanos (TIMESTAMP(NANOS) + nanosAsLong)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Round-robin fan-out to cluster parallelism, for placement directly
    * before row-amplifying transforms (shingle/trigram explodes multiply
    * rows ~100-300×). The test parquet is one file with one row group, so
    * the scan is a single task — without this everything downstream of the
    * explode, including the partial aggregation, runs single-threaded. At
    * production scale the scan already has many splits and this degenerates
    * to a cheap input-sized rebalance ahead of the expensive stage (also
    * how you'd break source skew before amplification). */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Materialize an intermediate that feeds multiple consumers (self-joins,
    * profile-build + scoring). Spark recomputes a DataFrame's whole lineage
    * per consumer — for a fingerprint/shingle table derived by an expensive
    * explode+aggregate, that doubles or triples the dominant cost. In a
    * production pipeline this table would be written to parquet once and
    * scanned by each consumer; persist(MEMORY_AND_DISK) is the in-session
    * equivalent (spills, never fails on size; LRU-evicted under pressure). */
  def materialize(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The broadcast decision for a join side whose size the planner cannot
    * be trusted with, and the only code that makes it. A side descended
    * from a generator carries a SUPPRESSED size estimate (Generate
    * propagates its child's stats, so a ×100 explode looks ×1 to the
    * planner), and a batch-sized side is unbounded by construction; an
    * estimator-trusted broadcast of either is the driver OOM cliff the
    * round-19 10× duplicate-dense probe caught. So the side ships
    * `broadcast` only under a counted or proven row cap, and past it the
    * join pins `shuffle_hash` (executor-side build, never a driver cliff).
    *
    * A gate is built once from one of two inputs and applied to one side
    * or to several:
    *  - [[Gate.probe]]: an early-terminating `limit(cap + 1)` count of a
    *    named frame, run as a real job once per query construction.
    *    `limit(n)` plans a LocalLimit per partition, so the worst case
    *    scans partitions × cap rows. The frame it counts may be a cheap
    *    parent of the gated sides (a raw batch whose row count bounds every
    *    band table derived from it) rather than the sides themselves.
    *  - [[Gate.bounded]]: a provable bound `bound ≥ |side|`, typically a
    *    zero-column parquet count (footer metadata) times a static fan-out
    *    factor. A bound in [0, cap] proves the broadcast safe with no job
    *    over the derived lineage; an inconclusive bound (over the cap,
    *    negative or saturated) falls back to the probe, since the bound is
    *    conservative and the side may still fit.
    * [[Gate.Shuffle]] pins `shuffle_hash` with no probe, for a side that is
    * never broadcastable. [[countedBroadcast]] and [[boundedBroadcast]]
    * are the one-side uses. `rows` is what decided the gate: the probed
    * count capped at cap + 1, the proven bound, or Long.MaxValue for
    * [[Gate.Shuffle]]. */
  final class Gate private (val rows: Long, val broadcasts: Boolean) {
    def apply(df: DataFrame): DataFrame =
      if (broadcasts) org.apache.spark.sql.functions.broadcast(df)
      else df.hint("shuffle_hash")
  }

  object Gate {
    val Shuffle: Gate = new Gate(Long.MaxValue, false)

    private def limited(df: DataFrame, maxRows: Long): DataFrame = {
      require(maxRows > 0 && maxRows < Int.MaxValue,
        s"broadcast gate cap must be in (0, Int.MaxValue): $maxRows")
      df.limit((maxRows + 1).toInt)
    }

    /** Broadcast iff `df` has at most `maxRows` rows. */
    def probe(df: DataFrame, maxRows: Long): Gate = {
      val n = limited(df, maxRows).count()
      new Gate(n, n <= maxRows)
    }

    /** [[probe]] that also sums the per-row `payload` (rows shipped per
      * counted row) over the same early-terminating scan, in one job:
      * broadcast iff at most `maxRows` rows AND at most `maxPayload`
      * shipped rows. Whenever the row cap holds the limit did not bind, so
      * the sum is exact. */
    def probe(df: DataFrame, maxRows: Long, payload: Column,
        maxPayload: Long): Gate = {
      import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
      val g = limited(df, maxRows).select(payload.as("n"))
        .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L)))
        .head()
      new Gate(g.getLong(0), g.getLong(0) <= maxRows && g.getLong(1) <= maxPayload)
    }

    /** Broadcast when `bound` in [0, maxRows] proves it; otherwise
      * [[probe]] `df`. */
    def bounded(bound: Long, df: DataFrame, maxRows: Long): Gate =
      if (bound >= 0 && bound <= maxRows) new Gate(bound, true)
      else probe(df, maxRows)
  }

  /** `a × b` saturating at Long.MaxValue: row-bound arithmetic for
    * [[Gate.bounded]] (a saturated bound is inconclusive and falls back
    * to the probe). */
  def satMul(a: Long, b: Long): Long =
    if (a > 0 && b > 0 && a > Long.MaxValue / b) Long.MaxValue else a * b

  /** [[Gate.probe]] of `df` applied to `df`. */
  def countedBroadcast(df: DataFrame, maxRows: Long): DataFrame =
    Gate.probe(df, maxRows)(df)

  /** [[Gate.bounded]] of `df` applied to `df`. */
  def boundedBroadcast(df: DataFrame, bound: Long, maxRows: Long): DataFrame =
    Gate.bounded(bound, df, maxRows)(df)
}
