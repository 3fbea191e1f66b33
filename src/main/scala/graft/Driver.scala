package graft

import org.apache.spark.sql.SparkSession

/** What every command-line main (`Bench`, `Verify`, `Explain`, `ProbeGen`)
  * shares, defined once: its session, its query selection, the cache reset
  * between queries, its JSON string encoder and its failure log. */
object Driver {

  /** `local[SPARK_GRAFT_CPUS]` (default: the host's cores) from
    * [[Graft.session]], which sizes the shuffle to those task slots. */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = Graft.session(appName, master = Some(s"local[$cpus]"))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local-iteration filter: `SPARK_GRAFT_ONLY=name1,name2` selects a
    * subset. Unset (the driver's invocation) → the full suite. */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** The selected registered queries, in registry order. */
  def selected: Seq[QueryDef] = SparkEntry.allQueries.filter(q => only.forall(_(q.name)))

  /** Drop every cached intermediate (operators that materialize persist a
    * new table per invocation), so each query runs hermetic: no cache hit
    * and no storage-memory pressure left by an earlier one. */
  def resetCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  /** JSON string literal: backslash, quote, and ALL control chars (< 0x20)
    * escaped — a tab or CR in builder-authored SQL or in an exception
    * message would otherwise make the consumer's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Log one query's failure loud on stderr as `[tag] name failed: …`,
    * then each cause with its top frames: the root cause is what matters
    * for triage (Spark wraps planner failures in INTERNAL_ERROR with the
    * real exception as the cause). */
  def logFailure(tag: String, name: String, e: Throwable): Unit = {
    System.err.println(s"[$tag] $name failed: ${e.getMessage}")
    var c = e.getCause
    while (c != null) {
      System.err.println(s"[$tag]   caused by: $c")
      c.getStackTrace.take(6).foreach(f => System.err.println(s"[$tag]     at $f"))
      c = c.getCause
    }
  }
}
