package graft

import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** BM25 lexical retrieval (`text_bm25_topk`): value checks against an
  * independent in-memory scorer, plus the plan contract that keeps the
  * operator scan-shaped at 100 TB — the 3-row query-term table and the
  * 1-row corpus stats join as broadcasts, and the final rank is a
  * TakeOrderedAndProject (per-partition top-20), never a full sort of the
  * scored corpus. */
class Bm25Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("matches an independent local BM25 ranker") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toLong
    val dl = docs.map { case (id, w) => id -> w.size.toLong }
    val sumDl = dl.values.sum
    val df = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (tk, g) => tk -> g.size.toLong }
    val qterms = df.filter(_._1.length >= 4).toSeq
      .sortBy { case (tk, d) => (-d, tk) }.take(3)
    val expected = docs.keys.toSeq.flatMap { id =>
      val w = docs(id)
      val s = qterms.map { case (tk, d) =>
        val tf = w.count(_ == tk).toDouble
        if (tf == 0) 0.0
        else math.log((n - d + 0.5) / (d + 0.5) + 1.0) * (tf * 2.2) /
          (tf + 1.2 * (0.25 + 0.75 * (dl(id) * n) / sumDl.toDouble))
      }.sum
      if (s > 0) Some((id, math.round(1000.0 * s))) else None
    }.sortBy { case (id, ms) => (-ms, id) }.take(20)

    val got = SparkEntry.queries("text_bm25_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === expected)
  }

  test("plan: term/stats joins broadcast; rank is TakeOrdered, not a global sort") {
    val q = SparkEntry.queries("text_bm25_topk")(spark, dir)
    q.collect()
    val nodes = PlanWalk.nodes(q.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject:\n${q.queryExecution.executedPlan}")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected broadcast join for the term table:\n${q.queryExecution.executedPlan}")
    // the scored set must not be exchanged for a global sort: no shuffle
    // node whose ordering-only purpose is rangepartitioning the corpus
    assert(!nodes.exists {
      case sh: ShuffleExchangeExec =>
        sh.outputPartitioning.toString.contains("rangepartitioning")
      case _ => false
    }, s"range-partitioning shuffle (global sort) in plan:\n${q.queryExecution.executedPlan}")
  }

  test("per-query BM25 matches an independent local ranker (own terms per " +
      "query, self excluded)") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val n = docs.size.toLong
    val dl = docs.map { case (id, w) => id -> w.size.toLong }
    val sumDl = dl.values.sum
    val df = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (tk, g) => tk -> g.size.toLong }
    val expected = (0L until 10L).filter(docs.contains).flatMap { q =>
      val qterms = docs(q).distinct.filter(_.length >= 4)
        .map(tk => tk -> df(tk)).sortBy { case (tk, d) => (-d, tk) }.take(3)
      docs.keys.filter(_ != q).toSeq.flatMap { id =>
        val w = docs(id)
        val s = qterms.map { case (tk, d) =>
          val tf = w.count(_ == tk).toDouble
          if (tf == 0) 0.0
          else math.log((n - d + 0.5) / (d + 0.5) + 1.0) * (tf * 2.2) /
            (tf + 1.2 * (0.25 + 0.75 * (dl(id) * n) / sumDl.toDouble))
        }.sum
        if (s > 0) Some((q, id, math.round(1000.0 * s))) else None
      }.sortBy { case (_, id, ms) => (-ms, id) }.take(20)
        .zipWithIndex.map { case ((qq, id, ms), i) => (qq, id, ms, i + 1L) }
    }
    val got = SparkEntry.queries("text_bm25_perquery")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    // distinct per-query term sets actually differ across queries — the
    // property the query-independent form lacked (the round-12 verdict's
    // documented simplification)
    val perQueryTop = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(perQueryTop.values.toSet.size > 1,
      "every query returned the identical candidate set — lexical leg is " +
        "not query-dependent")
  }
}
