package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** `knn_mmr_diversify`: bit-level identity of the K greedy rounds against a
  * full local reimplementation (same sequential-fold doubles, same
  * ties-to-smaller-id argmax), plus the house plan pin — no Window node
  * anywhere (candidate generation goes through the two-phase heaps, each
  * greedy pick is a plain max(struct) aggregation). */
class MmrSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Local greedy MMR over the same candidate rule: per query (vec_id<10),
    * top-C by (cos desc, id), then K rounds of
    * argmax 0.7·rel − 0.3·max_sim_to_selected, ties to the smaller id. */
  private def localMmr(): Seq[(Long, Long, Long, Double)] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").collect()
    val vecs = rows.map(r => r.getLong(0) ->
      r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val nrm = vecs.map { case (k, v) => k -> math.sqrt(dot(v, v)) }
    def cos(i: Long, j: Long): Double = dot(vecs(i), vecs(j)) / (nrm(i) * nrm(j))
    val ids = vecs.keys.toSeq.sorted
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    for (q <- ids.filter(_ < 10)) {
      val rel = ids.filter(_ != q).map(c => c -> cos(q, c)).toMap
      val cands = rel.keys.toSeq
        .sortBy(c => (-rel(c), c))(Ordering.Tuple2(Ordering.Double.TotalOrdering, implicitly))
        .take(graft.operators.Similarity.MmrC)
      val sel = collection.mutable.ArrayBuffer.empty[Long]
      for (r <- 1 to graft.operators.Similarity.MmrK) {
        val scoreOf: Long => Double =
          if (r == 1) rel
          else c => 0.7 * rel(c) - 0.3 * sel.map(s => cos(c, s)).max
        val pick = cands.filterNot(sel.contains)
          .maxBy(c => (scoreOf(c), -c))(Ordering.Tuple2(Ordering.Double.TotalOrdering, implicitly))
        out += ((q, pick, r.toLong,
          BigDecimal(scoreOf(pick)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        sel += pick
      }
    }
    out.toSeq
  }

  test("engine MMR selection is identical to the local greedy replay") {
    val got = SparkEntry.queries("knn_mmr_diversify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = localMmr()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 === w._1 && g._2 === w._2 && g._3 === w._3, s"pick $g vs $w")
      assert(math.abs(g._4 - w._4) < 1e-9, s"score $g vs $w")
    }
  }

  test("diversification actually reorders: MMR set differs from plain top-K") {
    val mmr = SparkEntry.queries("knn_mmr_diversify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val topk = SparkEntry.queries("knn_cosine_bruteforce")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mmr !== topk, "λ=0.7 must displace at least one redundant neighbor")
    val firstPicks = SparkEntry.queries("knn_mmr_diversify")(spark, dir)
      .filter("rnk = 1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val firstExact = SparkEntry.queries("knn_cosine_bruteforce")(spark, dir)
      .filter("rnk = 1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(firstPicks === firstExact, "round 1 is pure relevance: same top-1")
  }

  test("no Window node in the executed MMR plan") {
    val df = SparkEntry.queries("knn_mmr_diversify")(spark, dir)
    df.collect()
    val nodes = PlanWalk.nodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), "window-free greedy plan")
  }
}
