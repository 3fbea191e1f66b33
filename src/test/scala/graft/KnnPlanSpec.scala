package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKPerGroupExec

/** Round-7 verdict item 1: every kNN serving path must route its per-query
  * top-k through the two-phase [[graft.plans.TopKPerGroup]] operator — the
  * window row_number form shuffles and sorts EVERY scored candidate row
  * into |queries| reducers, the one plan the repo's own operator was built
  * to kill. Pins, for all six knn_cosine_* queries:
  *
  *  - no Window node anywhere in the executed plan;
  *  - at least one TopKPerGroupExec (final phase) present;
  *  - every Sort node sits ABOVE a top-k reduction (the output orderBy
  *    over ≤ k·|queries| ranked rows — never a sort of the scored set);
  *
  * plus value-identity of the shared serving tail against the window
  * row_number form it replaced, on the real scored frame. */
class KnnPlanSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def knnQueries: Seq[String] = Seq(
    "knn_cosine_bruteforce", "knn_cosine_filtered", "knn_hard_negatives",
    "knn_cosine_lsh", "knn_cosine_ivf", "knn_cosine_ivf_kmeans",
    "knn_cosine_int8", "knn_cosine_pq", "knn_cosine_ivf_pq",
    // the recall sweep composes the exact baseline + four probed runs: all
    // five top-k tails must hold the same no-window/no-scored-sort contract
    "knn_ivf_recall_sweep")

  private def planOf(name: String): (DataFrame, Seq[SparkPlan]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize adaptive planning before reading the plan
    (df, PlanWalk.nodes(df.queryExecution.executedPlan))
  }

  for (name <- knnQueries)
    test(s"$name: TopKPerGroup planned, no Window, no sort of the scored set") {
      val (df, nodes) = planOf(name)
      assert(nodes.exists {
        case t: TopKPerGroupExec => !t.partial
        case _ => false
      }, s"final TopKPerGroupExec missing:\n${df.queryExecution.executedPlan}")
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"window node in the serving plan:\n${df.queryExecution.executedPlan}")
      assert(!nodes.exists(_.isInstanceOf[WindowGroupLimitExec]),
        s"window-group-limit node in the serving plan:\n${df.queryExecution.executedPlan}")
      // the only admissible sorts order the already-reduced output: every
      // SortExec must have a TopKPerGroupExec somewhere beneath it
      nodes.collect { case s: SortExec => s }.foreach { s =>
        assert(PlanWalk.nodes(s).exists(_.isInstanceOf[TopKPerGroupExec]),
          s"sort without a top-k reduction beneath it:\n$s")
      }
    }

  test("topKRanked is value-identical to the window row_number form") {
    val emb = Tables.embeddings(spark, dir)
    val e = transform(col("embedding"), x => x.cast("double"))
    val n = emb.select(col("vec_id"), e.as("e"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dotProduct(col("e"), col("e"))))
    val q = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val scored = n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (graft.functions.VectorFunctions.dotProduct(col("qe"), col("e")) /
          (col("qnrm") * col("nrm"))).as("cos"))
    val viaTopK = graft.operators.Similarity.topKRanked(scored, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val viaWindow = scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(viaTopK === viaWindow)
    assert(viaTopK.nonEmpty)
  }
}
