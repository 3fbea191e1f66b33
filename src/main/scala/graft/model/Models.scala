package graft.model

import org.apache.spark.sql.types._

/** A keyed update event with an explicit total-order column. Kafka gives
  * per-key arrival order for free (partition offsets); Spark does not, so
  * every batch/streaming formulation carries `eventOrder` explicitly
  * (SURVEY.md §7.2, §7.4 "hard parts" (1)). */
final case class OrderedUpdateEvent(
    productCode: String,
    eventOrder: Long,
    action: String,
    delta: Int)

/** Wire schemas of the reference engine's records, explicit (never
  * inferred). Reference shapes (see SURVEY.md §1.2):
  *  - ProductKey — ProductKey.java:20-29 (productCode:string):
  *    [[Schemas.productKey]]
  *  - InventoryUpdateEvent — InventoryUpdateEvent.java:23-58 (delta:int,
  *    key, action ∈ {INC,DEC,REP}): [[Schemas.inventoryUpdateEvent]]
  *  - InventoryCountEvent — InventoryCountEvent.java:25-70 (count:int,
  *    key): the aggregate state and output value. The reference
  *    initializes state with the no-arg constructor (count=0, key=null) and
  *    never sets the embedded key (InventoryCountUpdateEventUpdater.java:32-38)
  *    — so only the record key identifies the product; oracles compare
  *    (record key, count).
  */
object Schemas {
  /** JSON wire schema of the record key. */
  val productKey: StructType =
    StructType(Seq(StructField("productCode", StringType)))

  /** JSON wire schema of the input value ({"delta":7,"key":{"productCode":"key0"},"action":"INC"}). */
  val inventoryUpdateEvent: StructType = StructType(Seq(
    StructField("delta", IntegerType),
    StructField("key", productKey),
    StructField("action", StringType)))
}

object Actions {
  val Inc = "INC"
  val Dec = "DEC"
  val Rep = "REP"

  /** The reference fold (InventoryCountUpdateEventUpdater.java:30-42) as a
    * pure function: the model oracle for every batch/streaming formulation.
    * Unknown action → None (reference returns null → key removed; unreachable
    * with the 3-member enum but preserved for fidelity). */
  def update(state: Int, action: String, delta: Int): Option[Int] = action match {
    case Inc => Some(state + delta)
    case Dec => Some(state - delta)
    case Rep => Some(delta)
    case _   => None
  }
}
