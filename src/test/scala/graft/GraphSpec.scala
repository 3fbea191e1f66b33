package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Fixed-point PageRank: exact identity against an independent local
  * replay of the same integer recurrence, plus the structural properties
  * (mass conservation up to floor losses, teleport floor for sink-only
  * nodes). */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def localRanks(n: Int, iters: Int = Graph.Iterations): Array[Long] = {
    val deg = Array.tabulate(n)(u => 1 + u % 3)
    val out = Array.tabulate(n)(u => (0 until deg(u)).map(j => ((u.toLong * 17 + 7L * j + 1) % n).toInt))
    var r = Array.fill(n)(Graph.Scale / n)
    for (_ <- 1 to iters) {
      val s = new Array[Long](n)
      for (u <- 0 until n; v <- out(u)) s(v) += r(u) / deg(u)
      r = Array.tabulate(n)(v => (15L * (Graph.Scale / n) + 85L * s(v)) / 100L)
    }
    r
  }

  test("engine ranks are bit-identical to the local fixed-point replay") {
    val got = SparkEntry.queries("graph_pagerank")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = got.size
    val want = localRanks(n)
    assert(got.size === n)
    for (v <- 0 until n) assert(got(v.toLong) === want(v), s"node $v")
  }

  test("rank mass is conserved up to floor losses; teleport is the floor") {
    val ranks = SparkEntry.queries("graph_pagerank")(spark, dir)
      .collect().map(_.getLong(1))
    val n = ranks.length
    val teleport = 15L * (Graph.Scale / n) / 100L
    assert(ranks.forall(_ >= teleport), "every node keeps at least the teleport mass")
    val total = ranks.sum
    // each of the 5 rounds floors at most 1 unit per edge contribution
    // (≤ 3N edges) plus 1 per node in the final div-100
    assert(total <= Graph.Scale && total >= Graph.Scale - 5L * 4 * n,
      s"mass $total vs scale ${Graph.Scale}")
  }

  test("deep iteration: checkpoint cadence bounds the plan, values stay bit-exact") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = Tables.documents(spark, dir)
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    // 20 iterations with CheckpointEvery=5 → the final plan holds only the
    // 5 iterations after the last checkpoint, exactly like a 10-iteration
    // run; without truncation it would hold all 20 (4× the joins)
    val r20 = Graph.pagerankRanks(docs, 20)
    val r10 = Graph.pagerankRanks(docs, 10)
    assert(joins(r20) === joins(r10),
      "plan size must be bounded by the checkpoint cadence, not total depth")
    // checkpointing must not change values: bit-exact vs the local replay
    val got = r20.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = localRanks(got.size, iters = 20)
    for (v <- want.indices) assert(got(v.toLong) === want(v), s"node $v @20 iters")
  }

  test("per-node triangle counts match a brute-force local enumeration") {
    val got = SparkEntry.queries("graph_triangles")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = spark.read.parquet(s"$dir/documents.parquet").count().toInt
    val adj = Array.fill(n)(collection.mutable.Set.empty[Int])
    for (u <- 0 until n; j <- 0 to u % 3) {
      val v = ((u.toLong * 17 + 7L * j + 1) % n).toInt
      if (u != v) { adj(u) += v; adj(v) += u }
    }
    val want = new Array[Long](n)
    for (a <- 0 until n; b <- adj(a) if b > a; c <- adj(a) if c > b)
      if (adj(b).contains(c)) { want(a) += 1; want(b) += 1; want(c) += 1 }
    for (v <- 0 until n if want(v) > 0)
      assert(got.getOrElse(v.toLong, 0L) === want(v), s"node $v")
    assert(got.keySet === (0 until n).filter(want(_) > 0).map(_.toLong).toSet,
      "nodes with zero triangles are absent, all others present")
  }
}
