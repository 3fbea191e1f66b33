package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump formatted physical plans for the selected queries
  * (`SPARK_GRAFT_ONLY`, default: all).
  * Usage: runMain graft.Explain [sfDir]
  *
  * Each query is forced once before its plan is taken, so a query served
  * from a build-once artifact prints its served plan whether or not the
  * warehouse held the artifact, and caches are reset first, so no plan
  * shows another run's cached relation. Ids that count up across the JVM
  * are masked, so two runs over the same code and data print the same
  * text. */
object Explain {
  private val Ids = Seq(
    """#\d+""".r -> "#N", // expression ids
    """plan_id=\d+""".r -> "plan_id=N",
    """RDD\[\d+\]""".r -> "RDD[N]",
    """(lambda \w+?)_\d+\b""".r -> "$1_N", // lambda variables: x_5
    """\$Lambda[$\d]*/0x\p{XDigit}+@\p{XDigit}+""".r -> """\$Lambda""") // JVM lambda classes

  private[graft] def masked(plan: String): String =
    Ids.foldLeft(plan) { case (text, (id, mask)) => id.replaceAllIn(text, mask) }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Driver.session("graft-explain")
    Driver.selected.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try {
        Bench.force(q.run(spark, sfDir))
        Driver.resetCaches(spark)
        println(masked(q.run(spark, sfDir).queryExecution.explainString(FormattedMode)))
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      Driver.resetCaches(spark)
    }
    spark.stop()
  }
}
