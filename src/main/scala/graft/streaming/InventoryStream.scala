package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField}

import graft.model.{Actions, OrderedUpdateEvent, Schemas}

/** One emitted changelog record: latest count for a product. `count = None`
  * is the KTable tombstone — the key was removed (null aggregate) and the
  * deletion is forwarded downstream as a (key, null) record, exactly as the
  * reference's `toStream()` re-emits KTable deletions to the output topic. */
final case class KeyedCount(productCode: String, count: Option[Int])

object KeyedCount {
  def apply(productCode: String, count: Int): KeyedCount =
    KeyedCount(productCode, Some(count))
}

/** One SCD Type-2 interval of the continuously-maintained temporal table
  * ([[InventoryStream.scd2Stream]]): the state `invCount` held from
  * `validFrom` (inclusive) to `validTo` (exclusive; `Long.MaxValue` = the
  * open interval). Closed intervals are immutable append-only facts; the
  * open interval is an update-mode upsert superseded on the key's next
  * event — exactly the write pattern of a warehouse SCD2 merge. */
final case class Scd2Interval(
    productCode: String,
    validFrom: Long,
    validTo: Long,
    invCount: Long,
    isCurrent: Boolean)

/** [[InventoryStream.scd2Stream]]'s per-key state: the open interval. */
final case class Scd2OpenState(invCount: Long, validFrom: Long)

/** Streaming re-expression of the reference topology
  * (KafkaStreamsInventoryCountApplication.java:67-85):
  *
  *   Kafka source → JSON decode (fixed schemas) → groupByKey →
  *   stateful INC/DEC/REP fold → update-mode changelog → JSON → Kafka sink
  *
  * Semantics preserved:
  *  - null key or null value (tombstone) records are dropped before the
  *    aggregation (Kafka Streams KGroupedStream.aggregate contract,
  *    SURVEY.md §2 row 8);
  *  - state never expires (GroupStateTimeout.NoTimeout ≡ the reference's
  *    unbounded in-memory store, KafkaStreamsInventoryCountApplication.java:50-52);
  *  - per-key processing order is (partition, offset) — Kafka gives this
  *    implicitly, Spark needs the explicit in-group sort (SURVEY.md §7.4);
  *  - update-mode emission coalesces to one record per changed key per
  *    trigger, matching the reference's record-cache flush at
  *    commit.interval.ms=1000 (Trigger.ProcessingTime("1 second"));
  *  - an unknown action folds to null in the reference, removing the key
  *    from the KTable — mirrored as state.remove() + a forwarded (key, null)
  *    tombstone record, which is what toStream() emits for a deletion;
  *  - the emitted value embeds key=null (reference initializer quirk,
  *    SURVEY.md §1.2): only the record key names the product.
  *
  * Scale: state is hash-partitioned across executors by productCode and
  * lives in the checkpointed StateStore (HDFS-backed or RocksDB via
  * spark.sql.streaming.stateStore.providerClass) — spillable and
  * fault-tolerant where the reference's store is process-memory-bound.
  * Spark's checkpoint + replayable source upgrade the reference's
  * at-least-once to exactly-once state updates.
  */
object InventoryStream {

  /** Corrupt-record marker column for PERMISSIVE JSON parsing: `from_json`
    * on unparseable input does NOT return a null struct — it returns a
    * struct of all-null fields, indistinguishable from valid-but-sparse
    * JSON like `{}`. The explicit corrupt-record column is the only way to
    * tell a parse failure apart, and a parse failure must be DROPPED (the
    * tombstone-equivalent drop), never folded — otherwise a null `action`
    * reaches the fold and wrongly removes the key. */
  private val CorruptCol = "_corrupt_record"
  private val wireValueSchema =
    Schemas.inventoryUpdateEvent.add(StructField(CorruptCol, StringType))

  /** Decode the Kafka wire shape (key/value JSON, fixed schemas — never
    * inferred) into ordered update events. Accepts binary or string
    * key/value columns plus (partition, offset); order = offset within
    * partition, which is exactly the order Kafka Streams folds in. */
  def decode(wire: DataFrame): Dataset[OrderedUpdateEvent] = {
    val spark = wire.sparkSession
    import spark.implicits._
    wire
      .filter(col("key").isNotNull && col("value").isNotNull)
      .select(
        from_json(col("key").cast("string"), Schemas.productKey).as("k"),
        from_json(col("value").cast("string"), wireValueSchema,
          Map("columnNameOfCorruptRecord" -> CorruptCol)).as("v"),
        col("offset"))
      // non-JSON payload → corrupt marker set → tombstone-equivalent drop;
      // a malformed KEY parses to productCode null and is dropped likewise
      .filter(col("k").isNotNull && col("v").isNotNull &&
        col("k.productCode").isNotNull && col(s"v.$CorruptCol").isNull)
      .select(
        col("k.productCode").as("productCode"),
        col("offset").as("eventOrder"),
        col("v.action").as("action"),
        coalesce(col("v.delta"), lit(0)).as("delta"))
      .as[OrderedUpdateEvent]
  }

  /** The per-key stateful fold (InventoryCountUpdateEventUpdater.java:26-46).
    * Each micro-batch: sort the group's new events by arrival order, fold
    * into persistent state, emit the updated count once per changed key. */
  def foldGroup(
      key: String,
      events: Iterator[OrderedUpdateEvent],
      state: GroupState[Int]): Iterator[KeyedCount] = {
    val sorted = events.toArray.sortBy(_.eventOrder)
    if (sorted.isEmpty) Iterator.empty
    else {
      var acc = state.getOption.getOrElse(0)
      var removed = false
      sorted.foreach { e =>
        Actions.update(acc, e.action, e.delta) match {
          case Some(next) => acc = next; removed = false
          // reference: a null aggregate removes the key, so a LATER event in
          // the same batch re-initializes from the initializer's count=0
          // (KGroupedStream.aggregate contract) — not from the stale value
          case None       => acc = 0; removed = true
        }
      }
      // a fold ending in removal deletes the state AND forwards the KTable
      // tombstone downstream as (key, null) — the reference's toStream()
      // re-emits deletions to the output topic for downstream consumers
      if (removed) { state.remove(); Iterator.single(KeyedCount(key, None)) }
      else { state.update(acc); Iterator.single(KeyedCount(key, Some(acc))) }
    }
  }

  /** updates → continuously folded changelog of counts. */
  def foldStream(updates: Dataset[OrderedUpdateEvent]): Dataset[KeyedCount] = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates
      .groupByKey(_.productCode)
      .flatMapGroupsWithState[Int, KeyedCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(foldGroup)
  }

  /** Per-key SCD2 maintenance step: each event CLOSES the open interval
    * (emitted once — an immutable, append-only fact) and opens a new one
    * at the reference fold's next state (INC add / DEC subtract / REP
    * set); the open interval is re-emitted each touched batch with
    * `isCurrent = true` (update-mode upsert). Contract: per-key event
    * order is monotone ACROSS batches (a changelog stream's offsets —
    * the same assumption every fold here makes); within a batch the
    * group sorts explicitly. */
  def scd2Group(
      key: String,
      events: Iterator[OrderedUpdateEvent],
      state: GroupState[Scd2OpenState]): Iterator[Scd2Interval] = {
    val sorted = events.toArray.sortBy(_.eventOrder)
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Array.newBuilder[Scd2Interval]
      var open = state.getOption
      sorted.foreach { e =>
        open.foreach { o =>
          out += Scd2Interval(key, o.validFrom, e.eventOrder, o.invCount,
            isCurrent = false)
        }
        val prev = open.map(_.invCount).getOrElse(0L)
        // arm order mirrors the batch twin's CASE exactly (REP set, INC
        // add, ELSE subtract) so an out-of-enum action — unreachable via
        // asUpdateEvents but the path this codebase keeps aligned —
        // cannot silently diverge the batch ≡ stream identity
        val next = e.action match {
          case Actions.Rep => e.delta.toLong // set
          case Actions.Inc => prev + e.delta
          case _           => prev - e.delta // DEC and the batch CASE's ELSE
        }
        open = Some(Scd2OpenState(next, e.eventOrder))
      }
      val o = open.get
      state.update(o)
      out += Scd2Interval(key, o.validFrom, Long.MaxValue, o.invCount,
        isCurrent = true)
      out.result().iterator
    }
  }

  /** STREAMING SCD TYPE-2 — the continuous twin of the batch
    * `inventory_scd2` materialization (graft.operators.InventoryParity):
    * the changelog maintained AS a temporal table, one closed interval
    * emitted per superseded state plus the current open interval per
    * touched key. State is one (count, validFrom) pair per key — O(keys),
    * the same bound as the count fold itself, checkpointed in the
    * StateStore. Scd2StreamSpec replays the REAL events table through
    * micro-batches and pins the reconstructed table row-for-row against
    * the oracled batch query. */
  def scd2Stream(updates: Dataset[OrderedUpdateEvent]): Dataset[Scd2Interval] = {
    val spark = updates.sparkSession
    import spark.implicits._
    updates
      .groupByKey(_.productCode)
      .flatMapGroupsWithState[Scd2OpenState, Scd2Interval](
        OutputMode.Update, GroupStateTimeout.NoTimeout)(scd2Group)
  }

  /** The reference's `peek` (SURVEY.md §2 row 6,
    * KafkaStreamsInventoryCountApplication.java:84): a pass-through
    * side-channel on the emitted changelog. Expressed as `observe` — the
    * plan-level observation node aggregates metrics per micro-batch (or per
    * batch action) and surfaces them through
    * `StreamingQueryListener.QueryProgressEvent.progress.observedMetrics`
    * without touching the data path: zero extra shuffle, no action, no
    * per-record driver callback (a 100 TB-safe peek, unlike the reference's
    * per-record logger which is O(stream) driver-side work if naively
    * ported). */
  def withPeek(counts: Dataset[KeyedCount], name: String = "inventory-peek"): Dataset[KeyedCount] =
    counts.observe(name,
      count(lit(1)).as("records_emitted"),
      approx_count_distinct(col("productCode")).as("distinct_products"))

  /** Changelog → the reference's output wire shape. Record key = ProductKey
    * JSON; record value = InventoryCountEvent JSON with embedded key null
    * (the §1.2 initializer quirk, preserved bit-for-bit). A removal
    * (count = None) encodes as a NULL record value — a Kafka tombstone —
    * not as `{"count":null,...}`. */
  def encode(counts: Dataset[KeyedCount]): DataFrame =
    counts.select(
      to_json(struct(col("productCode"))).as("key"),
      when(col("count").isNull, lit(null).cast("string")).otherwise(
        // ignoreNullFields=false: Jackson writes "key":null, so we do too
        to_json(struct(
          col("count"),
          lit(null).cast(Schemas.productKey).as("key")),
          Map("ignoreNullFields" -> "false"))).as("value"))

  /** The whole pipeline body between the two Kafka endpoints: decode,
    * fold, the reference's `peek`
    * (KafkaStreamsInventoryCountApplication.java:84), encode.
    * [[kafkaPipeline]] runs it, and so can any source of the Kafka wire
    * schema. */
  def pipeline(wire: DataFrame): DataFrame =
    encode(withPeek(foldStream(decode(wire))))

  /** Default topic names — the reference's stream bindings
    * (application.yml:3-7: process-in-0 = inventory-update-events,
    * process-out-0 = inventory-count-events). */
  val DefaultInputTopic = "inventory-update-events"
  val DefaultOutputTopic = "inventory-count-events"

  /** Source options for the Kafka wire path, factored out so the wiring
    * contract is testable without a broker (KafkaWiringSpec) —
    * [[kafkaPipeline]] passes this map verbatim. `startingOffsets=earliest`
    * mirrors Kafka Streams' default `auto.offset.reset=earliest` for a
    * fresh consumer group. */
  def kafkaSourceOptions(bootstrapServers: String,
      inputTopic: String = DefaultInputTopic): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "subscribe" -> inputTopic,
    "startingOffsets" -> "earliest")

  /** Sink options for the Kafka wire path (see [[kafkaSourceOptions]]). */
  def kafkaSinkOptions(bootstrapServers: String,
      outputTopic: String = DefaultOutputTopic,
      checkpointDir: String = "/tmp/graft-inventory-checkpoint"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "topic" -> outputTopic,
    "checkpointLocation" -> checkpointDir)

  /** The production pipeline against real Kafka topics
    * (application.yml:3-7 bindings). Requires spark-sql-kafka on the
    * classpath and a reachable broker — neither exists in this container,
    * so the MemoryStream suite proves the identical transform chain,
    * KafkaWiringSpec pins the option/plan contract, and this wiring is
    * exercised end-to-end only in a real deployment. */
  def kafkaPipeline(
      spark: SparkSession,
      bootstrapServers: String,
      inputTopic: String = DefaultInputTopic,
      outputTopic: String = DefaultOutputTopic,
      checkpointDir: String = "/tmp/graft-inventory-checkpoint"): StreamingQuery = {
    val wire = spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrapServers, inputTopic))
      .load()
    pipeline(wire).writeStream
      .format("kafka")
      .options(kafkaSinkOptions(bootstrapServers, outputTopic, checkpointDir))
      .outputMode(OutputMode.Update)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }
}
