package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Alternating large-star/small-star components vs an independent
  * union-find, on shapes chosen to stress what plain propagation cannot do
  * (long chains = large diameter), plus the equality of the two registered
  * cluster queries on real docs. */
class CcAlternatingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def run(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val v = (0L until n).toDF("id")
    val e = edges.toDF("a", "b")
    Dedup.connectedComponentsAlternating(v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches union-find on chains, stars, cliques, and empty graphs") {
    val shapes: Seq[(String, Long, Seq[(Long, Long)])] = Seq(
      ("empty", 5L, Seq.empty),
      ("one pair", 4L, Seq((2L, 3L))),
      ("star", 8L, (1L to 7L).map(i => (0L, i))),
      ("two components", 10L, Seq((0L, 1L), (1L, 2L), (5L, 6L), (6L, 7L), (7L, 8L))),
      ("clique", 6L, (for (a <- 0L until 6L; b <- a + 1 until 6L) yield (a, b))),
      ("chain-200", 200L, (0L until 199L).map(i => (i, i + 1))),
      ("reversed chain", 50L, (0L until 49L).map(i => (i + 1, i))))
    for ((label, n, edges) <- shapes)
      assert(run(n, edges) === unionFind(n, edges), s"shape: $label")
  }

  test("plain propagation cannot do a 200-chain within its round budget; alternating can") {
    import spark.implicits._
    val v = (0L until 200L).toDF("id")
    val e = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    // diameter 199 > MaxCcIterations → propagation must fail loudly...
    val err = intercept[IllegalArgumentException] {
      DedupClustersSpec.connectedComponents(v, e).collect()
    }
    assert(err.getMessage.contains("did not converge"))
    // ...while the alternating contraction converges in O(log n) rounds
    val labels = Dedup.connectedComponentsAlternating(v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet === Set(0L), "one component labeled by its min")
  }

  test("the registered cluster query (star) agrees with the propagation twin on real documents") {
    // dedup_clusters publicly runs the diameter-safe star contraction; the
    // demoted plain-propagation twin must still label identically
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.shingleJaccardOn(docs)
      .select(org.apache.spark.sql.functions.col("d1").as("a"),
        org.apache.spark.sql.functions.col("d2").as("b"))
    val v = docs.select(org.apache.spark.sql.functions.col("doc_id").as("id"))
    val a = Dedup.clusters.run(spark, dir)
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = DedupClustersSpec.connectedComponents(v, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a.nonEmpty)
  }
}
