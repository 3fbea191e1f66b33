package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Actions

/** The reference's core operator: the per-key stateful INC/DEC/REP fold
  * (InventoryCountUpdateEventUpdater.java:26-46 via
  * KafkaStreamsInventoryCountApplication.java:78-82), re-expressed for batch
  * as pure built-in window + aggregate functions (SURVEY.md §7.2).
  *
  * Fold semantics, processed in per-key event order:
  *   INC → count += delta;  DEC → count -= delta;  REP → count = delta.
  * REP discards all history before it, so:
  *
  *   count(key) = (delta of the LAST REP event, else 0)
  *              + Σ over events AFTER that REP: +delta (INC) / −delta (DEC)
  *
  * Scale notes (100 TB): one hash-shuffle on product_code; the window
  * (partitionBy only, no orderBy — a whole-partition max, no sort) and the
  * subsequent groupBy reuse the same partitioning, so Catalyst plans a single
  * Exchange. No driver-side state; skew on a hot key is bounded because the
  * per-row payload is 3 small columns, and AQE skew handling applies.
  */
object InventoryFold {

  /** Deterministic events→inventory mapping (FIXTURES.md §B): fixed verbatim
    * here and in the oracle SQL. Tombstones (props IS NULL) are dropped before
    * parsing, mirroring Kafka Streams' null-value drop (SURVEY.md §2 row 8). */
  def asUpdateEvents(events: DataFrame): DataFrame = {
    val action = when(col("event_type").isin("click", "view"), Actions.Inc)
      .when(col("event_type").isin("error", "signup"), Actions.Dec)
      .otherwise(Actions.Rep) // 'purchase'
    events
      .filter(col("props").isNotNull)
      .select(
        col("user_id").cast("string").as("product_code"),
        col("event_id").as("event_order"),
        action.as("action"),
        floor(col("value")).cast("int").as("delta"))
  }

  /** SQL fragment equivalent of [[asUpdateEvents]] — shared prefix of every
    * inventory oracle, runnable verbatim in DuckDB and Spark SQL. */
  val asUpdateEventsSql: String =
    """SELECT CAST(user_id AS VARCHAR) AS product_code,
      |       event_id AS event_order,
      |       CASE WHEN event_type IN ('click','view') THEN 'INC'
      |            WHEN event_type IN ('error','signup') THEN 'DEC'
      |            ELSE 'REP' END AS action,
      |       CAST(FLOOR(value) AS INT) AS delta
      |FROM events WHERE props IS NOT NULL""".stripMargin

  /** Signed contribution of one event given the key's last-REP position. */
  private def contribution(lastRep: Column): Column =
    when(col("event_order") === lastRep, col("delta"))
      .when(
        lastRep.isNull || col("event_order") > lastRep,
        when(col("action") === Actions.Inc, col("delta")).otherwise(-col("delta")))
      .otherwise(lit(0))

  /** Batch fold over a mapped update-event frame →
    * (product_code: string, inv_count: bigint), one row per key. */
  def fold(updates: DataFrame): DataFrame = {
    // Whole-partition max (no sort): position of the last REP per key.
    val byKey = Window.partitionBy(col("product_code"))
    val lastRep = max(when(col("action") === Actions.Rep, col("event_order"))).over(byKey)
    updates
      .withColumn("last_rep", lastRep)
      .groupBy(col("product_code"))
      .agg(sum(contribution(col("last_rep"))).cast("long").as("inv_count"))
  }

  /** Flagship query: events.parquet → mapped updates → fold. */
  def query(spark: SparkSession, dir: String): DataFrame =
    fold(asUpdateEvents(graft.Tables.events(spark, dir))).orderBy("product_code")

  val querySql: String =
    s"""WITH e AS ($asUpdateEventsSql),
       |m AS (SELECT *,
       |        MAX(CASE WHEN action='REP' THEN event_order END)
       |          OVER (PARTITION BY product_code) AS last_rep
       |      FROM e)
       |SELECT product_code,
       |       CAST(SUM(CASE WHEN event_order = last_rep THEN delta
       |                     WHEN last_rep IS NULL OR event_order > last_rep THEN
       |                          CASE WHEN action='INC' THEN delta ELSE -delta END
       |                     ELSE 0 END) AS BIGINT) AS inv_count
       |FROM m GROUP BY product_code ORDER BY product_code""".stripMargin
}
