package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Driver.session("graft-verify")
    // Artifact-buyback invariant (r18 VERDICT item 2): every declared
    // artifact-served row and its fresh twin must be registered, no twin
    // may itself be artifact-served, and oracle-replay-only rows must
    // still carry their replay-from-raw oracle. Fails the whole dump loud
    // rather than letting a dropped twin silently weaken the bench's
    // freshness story.
    ArtifactTwins.check(
      SparkEntry.queries.keySet,
      SparkEntry.allQueries
        .filter(q => q.oracle.isDefined || q.oracleFor.isDefined)
        .map(_.name).toSet)
    new java.io.File(outDir).mkdirs()
    Driver.selected.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable => Driver.logFailure("verify", q.name, e) }
      Driver.resetCaches(spark)
    }
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${Driver.json(k)}: ${Driver.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
