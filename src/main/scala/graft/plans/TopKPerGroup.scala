package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Whole-operator extension demo: per-group top-k as a FIRST-CLASS plan
  * node — custom logical operator → injected [[TopKPerGroupStrategy]] →
  * custom physical operator — completing graft's extension-surface tour
  * (native expression: [[graft.functions.Md5MinLanes]]; optimizer rule:
  * [[DotProductFusion]]; planner strategy: this).
  *
  * Why this operator: every kNN serving path in
  * [[graft.operators.Similarity]] ends in a per-query top-k, which as
  * `row_number() OVER (PARTITION BY query ORDER BY score DESC) <= k` is
  * planned by Spark as Exchange + FULL SORT of every scored row + Window.
  * The sort is wasted work: top-k needs a bounded heap, not a total order.
  * [[TopKPerGroupExec]] declares the same `ClusteredDistribution` (so
  * Catalyst still plans the one hash exchange) but replaces Sort+Window
  * with an O(n·log k) streaming heap per group: memory is O(groups·k) per
  * task instead of a sort buffer over the partition, and at 100 TB the
  * difference between sorting |corpus|·|queries| scored rows and heaping
  * them is the difference between spilling and not.
  *
  * Scoped deliberately: score must be non-null DOUBLE or BIGINT
  * (descending), with a LONG ascending tie-break — the (cosine,
  * neighbor_id) shape the retrieval queries use, plus the exact-integer
  * milli-score shape the text-ranking queries use (`tfidf_keywords` ranks
  * on BIGINT `score_milli` with no double cast, so integer scores rank
  * exactly at full 64-bit rather than only below 2^53). Both types map to
  * ONE sortable-long heap key: a LONG score is its own key; a DOUBLE maps
  * through the order-preserving bits transform (sign-flip trick), whose
  * total order equals `Double.compare` exactly — including -0.0 < 0.0 and
  * NaN above every value (doubleToLongBits canonicalizes NaN above +Inf),
  * matching Spark's sort semantics so the window form and this operator
  * agree on 0/0 cosines. Null scores are dropped (a null similarity is a
  * non-candidate). TopKStrategySpec pins plan shape (node present, no Sort,
  * no Window, exchange still clustered) and value-identity against the
  * window form over parquet-backed relations — for both score types,
  * including LONG scores adjacent above 2^53 that a double cast would
  * collapse. Adopted (round 8) as the serving tail of all six
  * knn_cosine_* retrieval queries — `Similarity.topKRanked` /
  * `topKCandidateIds` — with KnnPlanSpec asserting no Sort/Window below
  * the top-k in any of their plans.
  */
final case class TopKPerGroup(
    groupExprs: Seq[Expression],
    score: Expression,
    tieBreak: Expression,
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroup {
  /** Column-API entry: `TopKPerGroup(df, Seq($"query_id"), $"cos", $"id", 5)`.
    * Builds the logical node over the DataFrame's analyzed plan, ensuring
    * [[TopKPerGroupStrategy]] is registered on the session first (see
    * [[graft.GraftExtensions.register]] — idempotent). */
  def apply(df: DataFrame, group: Seq[Column], score: Column, tieBreak: Column,
      k: Int): DataFrame = {
    // Self-register the planner strategy: a query ending in this node must
    // plan on any session it's handed, not only one where some earlier
    // graft query happened to call register() first (the ordering bug a
    // single-query Verify run exposed in round 10).
    graft.GraftExtensions.register(df.sparkSession)
    GraftBridge.ofRows(df.sparkSession,
      TopKPerGroup(group.map(GraftBridge.expression), GraftBridge.expression(score),
        GraftBridge.expression(tieBreak), k, GraftBridge.analyzedPlan(df)))
  }
}

/** Physical per-group top-k: one streaming pass per partition, a bounded
  * min-heap of k rows per group keyed by (score asc, tie desc) so the
  * heap head is always the incumbent worst.
  *
  * Planned as TWO phases, exactly like hash aggregation: per-group top-k
  * is a semigroup (top-k of a union = top-k of the per-part top-ks), so a
  * PARTIAL instance runs on each input partition as-is — no distribution
  * requirement, no exchange — and only its survivors (≤ groups·k rows per
  * partition) reach the exchange the FINAL instance requires via
  * `ClusteredDistribution`. The Window form shuffles and sorts EVERY
  * scored row; this shuffles the per-partition winners only — at
  * |corpus|·|queries| scored-candidate scale, that is the shuffle.
  *
  * Memory bound: the partial phase sees UNclustered input, so one task
  * could in principle buffer a heap for every group in the data. Instead
  * of a spill path it FLUSHES: past [[TopKPerGroupExec.MaxPartialGroups]]
  * distinct groups the current heaps are emitted and the map resets —
  * correct because a row evicted from a heap was dominated by k
  * same-group rows within one flush, which witness it out of the global
  * top-k; a row merely split across flushes survives to the final phase.
  * Worst case (group count ≫ cap, adversarial interleaving) degrades
  * toward pass-through — the window form's shuffle — never above it.
  * The final phase is clustered, holds only its own groups, and never
  * flushes (`MaxValue` cap). */
final case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    score: Expression,
    tieBreak: Expression,
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroup"
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))
  // a streaming per-partition reduction never moves rows, so the child's
  // partitioning survives — the final phase therefore REPORTS the group
  // clustering, and a downstream same-keyed aggregation (the kNN rank
  // packing in [[graft.operators.Similarity]]) reuses the one exchange
  // instead of re-shuffling the k·groups survivors
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val (g, s, t, kk, childOutput) = (groupExprs, score, tieBreak, k, child.output)
    val groupCap = if (partial) TopKPerGroupExec.MaxPartialGroups else Int.MaxValue
    val scoreIsLong = score.dataType == org.apache.spark.sql.types.LongType
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(g, childOutput)
      val scoreProj = UnsafeProjection.create(Seq(s, t), childOutput)
      // entry: (sortable score key, tie, row-copy); min-heap by (score asc,
      // tie desc) — head is the row the next better candidate evicts. A
      // LONG score is its own key (exact at full 64-bit); a DOUBLE maps
      // through the order-preserving bits transform, whose long order
      // equals Double.compare exactly (negatives bit-reversed below
      // positives, -0.0 < 0.0, canonical-NaN bits above +Inf).
      def sortableScore(st: InternalRow): Long =
        if (scoreIsLong) st.getLong(0)
        else {
          val bits = java.lang.Double.doubleToLongBits(st.getDouble(0))
          // keep the sign bit, flip the magnitude bits for negatives: the
          // signed-long order of the result equals Double.compare's order
          bits ^ ((bits >> 63) & java.lang.Long.MAX_VALUE)
        }
      val heapOrd = new java.util.Comparator[(Long, Long, InternalRow)] {
        override def compare(a: (Long, Long, InternalRow),
            b: (Long, Long, InternalRow)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(b._2, a._2)
        }
      }
      val heaps = new java.util.LinkedHashMap[UnsafeRow,
        java.util.PriorityQueue[(Long, Long, InternalRow)]]()
      def offer(row: InternalRow): Unit = {
        val st = scoreProj(row)
        if (!st.isNullAt(0)) { // null score = non-candidate
          val (sv, tv) = (sortableScore(st), st.getLong(1))
          val key = keyProj(row)
          var heap = heaps.get(key)
          if (heap == null) {
            heap = new java.util.PriorityQueue(kk, heapOrd)
            heaps.put(key.copy(), heap)
          }
          if (heap.size < kk) heap.add((sv, tv, row.copy()))
          else {
            // eviction uses the SAME comparator as the heap order, so NaN
            // scores are handled consistently (the sortable-bits key ranks
            // NaN above every value — exactly Spark's sort order, which is
            // what keeps this operator value-identical to the window
            // row_number form when a 0/0 score appears)
            val cand = (sv, tv, row)
            if (heapOrd.compare(cand, heap.peek()) > 0) {
              heap.poll(); heap.add((sv, tv, row.copy()))
            }
          }
        }
      }
      // emit each group's survivors best-first (score desc, tie asc)
      import scala.jdk.CollectionConverters._
      def drain(): Iterator[InternalRow] = {
        val hs = heaps.values().iterator().asScala.toArray
        heaps.clear()
        hs.iterator.flatMap { h =>
          h.iterator().asScala.toArray
            .sortWith((a, b) => heapOrd.compare(a, b) > 0)
            .iterator.map(_._3)
        }
      }
      // consume input, flushing whenever the group map hits the cap (see
      // the class scaladoc for why flushing preserves correctness)
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        private var finished = false
        private def advance(): Boolean = {
          while (!cur.hasNext && !finished) {
            while (it.hasNext && heaps.size() <= groupCap) offer(it.next())
            if (!it.hasNext) finished = true
            cur = drain()
          }
          cur.hasNext
        }
        override def hasNext: Boolean = advance()
        override def next(): InternalRow = {
          if (!advance()) throw new NoSuchElementException("empty iterator")
          cur.next()
        }
      }
    }
  }
}

object TopKPerGroupExec {
  /** Flush threshold for the unclustered partial phase: with k ≈ 5–100
    * this caps partial-state at a few million buffered rows per task. */
  val MaxPartialGroups: Int = 1 << 16
}

/** The injected planner strategy: our node → final-over-partial execs
  * (the exchange EnsureRequirements inserts between them carries only the
  * partial survivors). */
object TopKPerGroupStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.types.{DoubleType, LongType}
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, s, t, k, child) =>
      // the exec reads score/tie positionally as (double-or-long, long); a
      // caller passing float/int would silently misread bytes and misrank —
      // reject at planning with a readable error instead (advisor round 7)
      require(s.dataType == DoubleType || s.dataType == LongType,
        s"TopKPerGroup score must be DOUBLE or BIGINT (descending), got ${s.dataType.simpleString}: ${s.sql}")
      require(t.dataType == LongType,
        s"TopKPerGroup tieBreak must be BIGINT (ascending), got ${t.dataType.simpleString}: ${t.sql}")
      val base = planLater(child)
      // two-phase evaluates score/tie in BOTH phases: fine (and worth it)
      // for deterministic expressions, wrong for nondeterministic ones
      // (the final phase would re-draw and rank by different values than
      // the partial selected by) — those plan single-phase, one
      // evaluation per row, the pre-split behavior
      val deterministic =
        s.deterministic && t.deterministic && g.forall(_.deterministic)
      val planned =
        if (deterministic)
          TopKPerGroupExec(g, s, t, k, partial = false,
            TopKPerGroupExec(g, s, t, k, partial = true, base))
        else TopKPerGroupExec(g, s, t, k, partial = false, base)
      planned :: Nil
    case _ => Nil
  }
}
