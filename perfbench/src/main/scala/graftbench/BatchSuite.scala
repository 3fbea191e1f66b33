package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import graft.SparkEntry

/** Registered batch queries, forced the way `graft.Bench.force` forces them:
  * every output column of every row hashed with xxhash64 and reduced with
  * bit_xor to one driver-side value. The value is the query's content hash. */
object BatchSuite {

  /** Timed passes per run: five passes of about 5 s on a 4-core host give
    * every query five timed executions and the pass latency five samples. */
  val TimedPasses = 5

  def forced(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h")).agg(expr("bit_xor(h)"))

  private def hashOf(f: DataFrame): String = {
    val r = f.collect().head
    if (r.isNullAt(0)) "null" else r.getLong(0).toString
  }

  private def clearCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sharedState.cacheManager.clearCache()
  }

  private def warehouseEntries(spark: SparkSession): Set[String] =
    Option(new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")).list())
      .map(_.toSet).getOrElse(Set.empty)

  /** One execution of one query, split into the registry call that builds
    * the frame, Catalyst planning of the forced frame, and the action. */
  private def runOne(spark: SparkSession, tracer: Tracer, dir: String, name: String,
      registry: Map[String, (SparkSession, String) => DataFrame]): Map[String, Any] = {
    val t0 = Clock.nowMs
    var marks = Vector.empty[Double]
    val outcome =
      try tracer.span(name, "query") {
        val fn = registry.getOrElse(name, throw new NoSuchElementException(s"query not registered: $name"))
        val df = tracer.span("build", "operators")(fn(spark, dir))
        marks :+= Clock.nowMs
        val f = forced(df)
        tracer.span("plan", "plans")(f.queryExecution.executedPlan)
        marks :+= Clock.nowMs
        val h = tracer.span("action", "exec")(hashOf(f))
        marks :+= Clock.nowMs
        Right(h)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val t1 = Clock.nowMs
    clearCaches(spark)
    val times = (t0 +: marks).sliding(2).collect { case Seq(a, b) => b - a }.toVector
    Map(
      "name" -> name, "start" -> t0, "wall_ms" -> (t1 - t0),
      "build_ms" -> times.lift(0).getOrElse(0.0), "plan_ms" -> times.lift(1).getOrElse(0.0),
      "action_ms" -> times.lift(2).getOrElse(0.0),
      "hash" -> outcome.toOption.orNull, "error" -> outcome.left.toOption.orNull)
  }

  /** Closed loop, one client: two untimed passes (the first builds the
    * train-once artifacts into the empty private warehouse; the JIT is still
    * compiling through the second), then `TimedPasses` timed passes in name
    * order. The count is fixed rather than set by the run length, so that a
    * faster engine does not also get more samples. */
  def run(spark: SparkSession, tracer: Tracer, exec: ExecListener, dir: String, names: Seq[String],
      rec: mutable.Map[String, Any]): Unit = {
    val registry = SparkEntry.queries
    val warm = names.map { n =>
      val before = warehouseEntries(spark)
      val r = runOne(spark, new Tracer(false), dir, n, registry)
      r + ("artifacts" -> (warehouseEntries(spark) -- before).count(!_.startsWith(".")))
    }
    rec("warmup") = warm
    names.foreach(n => runOne(spark, new Tracer(false), dir, n, registry))
    rec("ready_ms") = Clock.nowMs
    val gc0 = Jvm.gcMs
    val timedStart = Clock.nowMs
    val passes = (1 to TimedPasses).map(_ => tracer.span("pass", "suite")(names.map(n => runOne(spark, tracer, dir, n, registry))))
    val timedEnd = Clock.nowMs
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    rec("gc_ms") = Jvm.gcMs - gc0
    rec("timed_start_ms") = timedStart
    rec("timed_end_ms") = timedEnd
    rec("passes") = passes
    rec("exec") = exec.summary(timedStart, timedEnd)
    rec("jobs") = exec.jobsIn(timedStart, timedEnd).map { case (a, b) => Seq(a, b) }
  }

  /** Content hash of every registered query (name order), for recording the
    * expected hashes. */
  def hashAll(spark: SparkSession, dir: String, rec: mutable.Map[String, Any]): Unit = {
    val registry = SparkEntry.queries
    val runs = registry.keys.toSeq.sorted.map(n => runOne(spark, new Tracer(false), dir, n, registry))
    rec("hashes") = runs.map(r => r("name") -> Option(r("hash")).getOrElse("error: " + r("error"))).toMap
    rec("walls") = runs.map(r => r("name") -> r("wall_ms")).toMap
  }

  /** Content hash of each query output written as parquet under `outDir`
    * (one sub-directory per query, as `graft.Verify` writes them). */
  def hashDumps(spark: SparkSession, outDir: String, rec: mutable.Map[String, Any]): Unit = {
    val subdirs = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted
    rec("hashes") = subdirs.map(n => n -> hashOf(forced(spark.read.parquet(s"$outDir/$n")))).toMap
  }
}
