package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Second batch of analytic coverage: pivot, CUBE grouping sets, and exact
  * (discrete) percentiles. */
object Analytics {

  /** Pivot order counts: one row per priority, one column per status. The
    * pivot values are declared explicitly — at scale an implicit pivot would
    * first run a distinct scan to discover them. Counts coalesce to 0 to
    * match the conditional-aggregation oracle. */
  val pivotOrders: QueryDef = QueryDef.sql(
    "pivot_orders",
    """SELECT o_orderpriority,
      |       CAST(SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
      |       CAST(SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
      |       CAST(SUM(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    statusCounts(s, d).orderBy("o_orderpriority")
  }

  /** Per-priority order counts by status, one column each (status_f,
    * status_o, status_p), 0 where a status is absent. */
  private def statusCounts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("status_f"),
        coalesce(col("O"), lit(0L)).as("status_o"),
        coalesce(col("P"), lit(0L)).as("status_p"))

  /** UNPIVOT (melt) — the inverse relational operator to [[pivotOrders]]:
    * the wide per-priority status counts back to (priority, status, n)
    * long form via the native `unpivot` (an Expand node — ×|columns| row
    * amplification inside the same stage, no shuffle and no join; the
    * only exchange in the plan is the pivot aggregation's own). The
    * melted `status` values are the source column names, which both
    * engines agree on by construction. */
  val unpivotOrders: QueryDef = QueryDef.sql(
    "unpivot_orders",
    """WITH wide AS (SELECT o_orderpriority,
      |       SUM(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS status_f,
      |       SUM(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS status_o,
      |       SUM(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS status_p
      |FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, 'status_f' AS status, CAST(status_f AS BIGINT) AS n FROM wide
      |UNION ALL
      |SELECT o_orderpriority, 'status_o', CAST(status_o AS BIGINT) FROM wide
      |UNION ALL
      |SELECT o_orderpriority, 'status_p', CAST(status_p AS BIGINT) FROM wide
      |ORDER BY o_orderpriority, status""".stripMargin) { (s, d) =>
    statusCounts(s, d)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("status_f"), col("status_o"), col("status_p")),
        "status", "n")
      .orderBy("o_orderpriority", "status")
  }

  /** Full CUBE over (status, priority): every grouping-set combination,
    * null keys labeled 'ALL'. */
  val cubeOrders: QueryDef = QueryDef.sql(
    "cube_orders",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n_orders
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"))
      .orderBy("status", "priority")
  }

  /** Exact discrete percentiles of order value per status: percentile_disc
    * returns an actual element (no interpolation), so the integer-cents
    * value hashes identically in both engines. */
  val percentilesByStatus: QueryDef = QueryDef.sql(
    "percentiles_by_status",
    """WITH o AS (SELECT o_orderstatus, CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents FROM orders)
      |SELECT o_orderstatus,
      |       CAST(quantile_disc(cents, 0.25) AS BIGINT) AS p25_cents,
      |       CAST(quantile_disc(cents, 0.5)  AS BIGINT) AS p50_cents,
      |       CAST(quantile_disc(cents, 0.95) AS BIGINT) AS p95_cents
      |FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderstatus"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)").cast("long").as("p25_cents"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").cast("long").as("p50_cents"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").cast("long").as("p95_cents"))
      .orderBy("o_orderstatus")
  }

  /** Explicit GROUPING SETS (neither rollup nor cube): per-status and
    * per-priority totals in one pass. The DataFrame API only exposes
    * rollup/cube, so this runs through spark.sql — one aggregation with a
    * 2-way Expand, identical text in both engines. */
  val groupingSetsOrders: QueryDef = {
    val sql =
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin
    QueryDef.sql("grouping_sets_orders", sql) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(sql)
    }
  }

  /** MARKET-BASKET association rules over order line items — the classic
    * retail-analytics operator (Agrawal-style pairwise frequent itemsets,
    * at the 2-itemset level where the candidate space is join-shaped):
    * for every co-purchased part pair, support, confidence and lift in
    * exact milli-units, minimum-support filtered, top 50 by lift.
    *
    * Scale shape (round 14): ONE exchange total — lineitem groups by
    * order into a sorted distinct-part array (≤ 7 parts per TPC-H order,
    * so each array is bounded and the blow-up is bounded at C(7,2) = 21
    * pairs per order, pair count ∝ orders, never parts²), and that
    * cached per-order table feeds all three consumers: the pair counts
    * via a ROW-LOCAL combination explode (the round-13 form's items⨝items
    * self-join paid the order-key exchange twice more plus the join
    * itself for the same bounded pair set), part supports via one
    * map-side-combined explode/groupBy, and the 1-row order count, which
    * broadcasts. Lift is the exact floor of 1000·N·n_ab / (n_a·n_b) —
    * both the numerator and the n_a·n_b denominator can pass 2^63 at
    * corpus scale, so the division runs in 38-digit decimals (DuckDB:
    * HUGEINT), the temperature mixture's wide-integer discipline. The
    * ranking uses TakeOrdered on the integer lift — no global sort. */
  /** Broadcast cap for the basket support table ([[Tables.boundedBroadcast]]):
    * (p, n) rows ≈ 24 B — 10M ≈ 240 MB shipped, under the hard broadcast
    * cap with headroom; past it the support joins fall back to the counted
    * gate and then shuffle_hash. */
  val MaxBroadcastSupportRows = 10000000L

  val basketPairs: QueryDef = QueryDef.sql(
    "basket_part_pairs",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |no AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items),
      |sup AS (SELECT p, COUNT(*) AS n FROM items GROUP BY p),
      |pairs AS (SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_both
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |          GROUP BY a.p, b.p)
      |SELECT CAST(part_a AS BIGINT) AS part_a, CAST(part_b AS BIGINT) AS part_b,
      |       CAST(n_both AS BIGINT) AS n_both,
      |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |       CAST(1000 * n_both // sa.n AS BIGINT) AS confidence_milli,
      |       CAST(CAST(1000 AS HUGEINT) * no.n_orders * n_both // (CAST(sa.n AS HUGEINT) * sb.n) AS BIGINT) AS lift_milli
      |FROM pairs JOIN sup sa ON pairs.part_a = sa.p
      |     JOIN sup sb ON pairs.part_b = sb.p
      |CROSS JOIN no
      |WHERE n_both >= 3
      |ORDER BY lift_milli DESC, part_a, part_b LIMIT 50""".stripMargin) { (s, d) =>
    // one exchange: distinct parts per order as a sorted bounded array
    // (collect_set dedups within the order); everything below is row-local
    // or map-side-combined over this cached table
    val byOrder = Tables.materialize(Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
    val no = byOrder.agg(count(lit(1)).as("n_orders"))
    val sup = byOrder.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    // C(|ps|,2) ordered pairs per order, generated row-locally from the
    // sorted array (a < b by construction) — no self-join, and NO lambda:
    // the round-17 nested-transform form evaluated INTERPRETED (the
    // char-entropy HOF lesson — measured 1.55 s vs 1.09 at sf0.1); two
    // chained generators (posexplode, then explode of the tail slice)
    // produce the identical pair set through codegen'd built-ins
    val pairs = byOrder
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("part_a"),
        explode(slice(col("ps"), col("pos") + lit(2), size(col("ps")))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 3)
    // BOUNDED broadcast gate on the support table (r21, replacing the r19
    // unconditional shuffle_hash pin): |sup| = |distinct l_partkey| ≤
    // |part| (FK), a zero-column metadata count — under the cap the two
    // support joins broadcast the parts-sized side and the filtered pair
    // stream is never re-exchanged (the pin paid two extra exchanges of
    // the pair stream plus two of sup, the r20-watched basket drift); past
    // the cap the gate falls back to a real limit+count and then
    // shuffle_hash — never the generator-suppressed estimate (the
    // dedup_containment probe cliff, SCALE.md r19).
    // (fixture dirs may carry lineitem without a part table — the bound is
    // then unavailable and the gate falls back to the counted form)
    val partBound = scala.util.Try(Tables.part(s, d).count()).getOrElse(-1L)
    def gatedSup(df: DataFrame): DataFrame =
      if (partBound >= 0) Tables.boundedBroadcast(df, partBound, MaxBroadcastSupportRows)
      else Tables.countedBroadcast(df, MaxBroadcastSupportRows)
    // r22 note: a shared-alias form (ONE gated support side into both
    // joins, hoping for broadcast-build reuse via canonical equality) was
    // tried and REVERTED — deterministic counters showed no reuse
    // materialized (jobs/stages identical) and the same-window bracket
    // measured it ~0.8× (1.65 → 2.10 s); the differently-projected copies
    // below stay the measured-fastest form.
    pairs
      .join(gatedSup(sup.select(col("p").as("part_a"), col("n").as("n_a"))),
        Seq("part_a"))
      .join(gatedSup(sup.select(col("p").as("part_b"), col("n").as("n_b"))),
        Seq("part_b"))
      .crossJoin(broadcast(no))
      .select(col("part_a").cast("long"), col("part_b").cast("long"),
        col("n_both").cast("long"), col("n_a").cast("long"), col("n_b").cast("long"),
        expr("1000 * n_both div n_a").cast("long").as("confidence_milli"),
        // 1000·N·n_both can pass 2^63 at corpus scale (N ~ 1e10 orders) and
        // so can the n_a·n_b denominator: evaluate the exact floor-division
        // in 38-digit decimals (DuckDB: HUGEINT), same discipline as the
        // temperature mixture's integer-root step
        expr("CAST(1000 AS DECIMAL(38,0)) * n_orders * n_both div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
          .cast("long").as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("part_a"), col("part_b"))
      .limit(50)
  }

  /** First-order MARKOV transition matrix over the event stream — the
    * user-journey summary funnel tools derive their edges from: for each
    * (from, to) adjacent event-type pair within a user's timeline, the
    * transition count, the from-state total, and the exact milli
    * transition probability. Adjacency by (ts, event_id) — the id
    * tiebreak makes the sequence, and therefore every count, a pure
    * deterministic function of the data.
    *
    * Scale shape: one window (LEAD) over the (user, time) sort — the
    * sessionization exchange — then a |types²|-row aggregate; the
    * row-normalizing totals come from THAT table, not another pass.
    * r22 (guide §2.4): the totals were a groupBy(from_type) joined back to
    * the count table — Catalyst plans the whole LEAD+aggregate subtree
    * TWICE (once per join side) and pays the aggregate + join exchanges.
    * `SUM(n) OVER (PARTITION BY from_type)` over the |types²| table is the
    * same exact integer total (every c row joins its own group's sum, and
    * the join was inner on a key built from c itself, so no row is added
    * or lost) with ONE evaluation of the subtree and one tiny exchange. */
  val eventsTransitions: QueryDef = QueryDef.sql(
    "events_transition_matrix",
    """WITH t AS (SELECT event_type AS ft,
      |            LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt
      |           FROM events),
      |c AS (SELECT ft, tt, COUNT(*) AS n FROM t WHERE tt IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT ft, SUM(n) AS total FROM c GROUP BY ft)
      |SELECT c.ft AS from_type, c.tt AS to_type, CAST(c.n AS BIGINT) AS n,
      |       CAST(rt.total AS BIGINT) AS from_total,
      |       CAST(1000 * c.n // rt.total AS BIGINT) AS p_milli
      |FROM c JOIN rt USING (ft)
      |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("tt", lead(col("event_type"), 1).over(w))
      .filter(col("tt").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("tt").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    c.withColumn("from_total", sum(col("n")).over(wt))
      .select(col("from_type"), col("to_type"), col("n").cast("long"),
        col("from_total").cast("long"),
        expr("1000 * n div from_total").cast("long").as("p_milli"))
      .orderBy("from_type", "to_type")
  }

  val all: Seq[QueryDef] = Seq(pivotOrders, unpivotOrders, cubeOrders,
    percentilesByStatus, groupingSetsOrders, basketPairs, eventsTransitions)
}
