package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The OVER-CAP arm of the broadcast gates (r20 verdict carry, closed in
  * r22): [[Tables.Gate]] and its one-side uses [[Tables.countedBroadcast]]
  * and [[Tables.boundedBroadcast]] are
  * the standing defense against the r19 estimator-trusted-broadcast OOM
  * cliff, and BroadcastGeneratorGateSpec pins their UNDER-cap decisions —
  * but nothing pinned what the gates do when the side is genuinely too
  * big. This spec drives both gates past their caps on a real join and
  * asserts the executed plan: the shipped side must arrive through a
  * shuffle (ShuffledHashJoin — executor-side build, spillable), and no
  * BroadcastExchange may hold the gated side. A regression that turns the
  * over-cap arm back into a broadcast (or silently drops the hint and
  * lets the planner pick SortMergeJoin with the hint discarded) fails
  * here, not on a cluster. One gate may decide several sides; it must do
  * so on one probe. */
class CountedGateOverCapSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def bigSide: DataFrame =
    spark.range(0, 1000).select(col("id").as("k"), (col("id") * 7).as("v"))
  private def probe: DataFrame =
    spark.range(0, 200).select(col("id").as("k"), (col("id") % 5).as("p"))

  /** Execute and return the FINAL (post-AQE) plan's node list. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanWalk.nodes(df.queryExecution.executedPlan)
  }

  private def joinKinds(nodes: Seq[SparkPlan]): (Int, Int, Int) = (
    nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
    nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
    nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))

  test("countedBroadcast over-cap arm: the side exceeds maxRows, the join " +
      "builds executor-side (ShuffledHashJoin), never a broadcast of it") {
    val gated = Tables.countedBroadcast(bigSide, maxRows = 100L) // 1000 > 100
    val (shj, bhj, smj) = joinKinds(executedNodes(probe.join(gated, Seq("k"))))
    assert(shj == 1 && bhj == 0 && smj == 0,
      s"over-cap countedBroadcast must pin shuffle_hash: shj=$shj bhj=$bhj smj=$smj")
  }

  test("countedBroadcast under-cap arm still broadcasts (the fast plan the " +
      "gate exists to keep)") {
    val gated = Tables.countedBroadcast(bigSide, maxRows = 100000L)
    val (shj, bhj, _) = joinKinds(executedNodes(probe.join(gated, Seq("k"))))
    assert(bhj == 1 && shj == 0,
      s"under-cap countedBroadcast must broadcast: shj=$shj bhj=$bhj")
  }

  test("boundedBroadcast over-cap arms: an over-cap proven bound falls to " +
      "the real count, and an over-cap count pins shuffle_hash") {
    // bound > cap, real count (1000) > cap → counted fallback → shuffle_hash
    val over = Tables.boundedBroadcast(bigSide, bound = 5000000L, maxRows = 100L)
    val (shj, bhj, smj) = joinKinds(executedNodes(probe.join(over, Seq("k"))))
    assert(shj == 1 && bhj == 0 && smj == 0,
      s"over-cap boundedBroadcast must pin shuffle_hash: shj=$shj bhj=$bhj smj=$smj")
    // bound > cap (inconclusive) but the real count is under → broadcast:
    // the conservative-bound fallback must not lose the fast plan
    val rescued = Tables.boundedBroadcast(bigSide, bound = 5000000L, maxRows = 2000L)
    val (shj2, bhj2, _) = joinKinds(executedNodes(probe.join(rescued, Seq("k"))))
    assert(bhj2 == 1 && shj2 == 0,
      s"inconclusive bound + under-cap count must broadcast: shj=$shj2 bhj=$bhj2")
  }

  /** Jobs launched by `body` on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"gate-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "gate probe")
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.sql.graftbridge.GraftBridge.drainListenerBus(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("one probe gates two sides: both shuffle_hash over the cap, both " +
      "broadcast under it, and either way the probe runs once") {
    // the jobs of ONE limit+count of the probed frame: the budget of a
    // whole gate, whatever number of sides it decides
    val (_, oneProbe) = jobsOf(bigSide.limit(101).count())
    assert(oneProbe >= 1)
    def twoSides(gate: Tables.Gate): DataFrame = {
      val left = gate(bigSide.select(col("k"), col("v").as("v1")))
      val right = gate(bigSide.select(col("k"), (col("v") + 1).as("v2")))
      probe.join(left, Seq("k")).join(right, Seq("k"))
    }
    val (over, overJobs) = jobsOf(twoSides(Tables.Gate.probe(bigSide, maxRows = 100L)))
    assert(overJobs === oneProbe, "an over-cap gate on two sides must probe once")
    val (shj, bhj, smj) = joinKinds(executedNodes(over))
    assert(shj == 2 && bhj == 0 && smj == 0,
      s"over-cap gate must pin shuffle_hash on both sides: shj=$shj bhj=$bhj smj=$smj")
    val (under, underJobs) =
      jobsOf(twoSides(Tables.Gate.probe(bigSide, maxRows = 100000L)))
    assert(underJobs === oneProbe, "an under-cap gate on two sides must probe once")
    val (shj2, bhj2, _) = joinKinds(executedNodes(under))
    assert(bhj2 == 2 && shj2 == 0,
      s"under-cap gate must broadcast both sides: shj=$shj2 bhj=$bhj2")
  }
}
