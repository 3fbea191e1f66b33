package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory: every entry point (the library facade,
  * `Bench`, `Verify`, the dev mains, the test harness) builds its session
  * here, so the configuration that is tested is the one that is verified,
  * benched and shipped. Callers choose only the master and the
  * shuffle-partition count.
  *
  * Deliberate defaults (each documented where it matters):
  *  - master `local[cores]` unless `spark.master` is already set (e.g. by
  *    spark-submit);
  *  - AQE on (runtime skew-join splitting + partition coalescing);
  *  - shuffle partitions sized to cores locally — on a real cluster callers
  *    should pass `shufflePartitions ≈ max(2×cores, inputBytes/128MB)` and
  *    let AQE coalesce the excess;
  *  - UTC session timezone (all oracle comparisons assume it);
  *  - nanosAsLong for TIMESTAMP(NANOS) parquet columns (pre-Spark-4.2
  *    parquet readers reject them otherwise);
  *  - RocksDB streaming state store: spillable, off-heap — the posture an
  *    unbounded-state fold needs (the reference's store is process-memory);
  *  - graft's local filesystem ([[ForkFreeLocalFs]]) for `file:` paths:
  *    without the native `libhadoop`, Hadoop's own forks a `chmod` or
  *    `readlink` process for each local metadata call, and those forks, not
  *    the fold, set the cost of every streaming commit (checkpoint, offset
  *    and commit logs, state-store files). Only those calls change; the
  *    `.crc` sidecars and Spark's checkpoint file manager are Hadoop's own;
  *  - graft's SQL functions, optimizer rule and planner strategy registered
  *    before the session is returned.
  */
object Graft {

  def session(
      appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession = {
    // If a session already exists in this JVM, adopt it: getOrCreate would
    // silently re-apply our conf (e.g. shuffle.partitions=cores) onto it,
    // changing the partitioning of every downstream plan behind the
    // caller's back — the conf leak that broke IncrementalDedupSpec's
    // exchange-count assertion when run after another suite.
    //
    // Adoption contract: explicitly passed `master`/`shufflePartitions` are
    // IGNORED (logged below — conf of a live session is caller-owned, and
    // partitioning/master/state-store cannot change mid-session anyway),
    // but the two confs graft's SEMANTICS depend on — UTC session timezone
    // (every oracle-checked timestamp comparison assumes it) and
    // nanosAsLong (TIMESTAMP(NANOS) parquet is unreadable without it) —
    // are runtime-settable and plan-shape-neutral, so they ARE applied: a
    // graft query on an adopted session must not silently return
    // different timestamps than the same query on a fresh one.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(existing) =>
        if (master.nonEmpty || shufflePartitions.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "graft: adopting the existing SparkSession; explicit " +
              "master/shufflePartitions arguments are ignored (a live " +
              "session's execution conf is caller-owned)")
        existing.conf.set("spark.sql.session.timeZone", "UTC")
        existing.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        GraftExtensions.register(existing)
        existing
      case None =>
        val cores = Runtime.getRuntime.availableProcessors()
        val base = SparkSession.builder()
          .appName(appName)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.sql.shuffle.partitions",
            shufflePartitions.getOrElse(cores).toString)
          .config("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
          .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
        val hostMaster =
          if (sys.props.contains("spark.master")) None else Some(s"local[$cores]")
        val spark = master.orElse(hostMaster).fold(base)(base.master).getOrCreate()
        GraftExtensions.register(spark)
        spark
    }
  }

  /** All registered batch queries by name — the engine's query surface. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Run one registered query against a table directory. */
  def run(spark: SparkSession, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)
}
