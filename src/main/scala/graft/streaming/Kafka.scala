package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.VectorExpressions.once

/** Kafka source/sink wiring (reference S3/S4: consumer groups, offset
  * control, keyed JSON messages — README.md:197-209, 265-270;
  * FeatureEngineeringApproaches.md:126-152 routine-load source).
  *
  * The message-level transforms (envelope → typed columns via
  * from_json with an EXPLICIT schema, malformed → DLQ, typed →
  * envelope via to_json) are plain DataFrame programs, testable
  * without a broker. The broker hookup is isolated in `source`/`sink`
  * (this image ships no kafka connector jar; on a real cluster the
  * same code runs unchanged with spark-sql-kafka on the classpath).
  */
object Kafka {

  /** Matches the reference consumer config: explicit offsets, bounded
    * per-trigger batches (README.md:197-204, maxOffsetsPerTrigger ↔
    * BATCH_SIZE at README.md:325).
    */
  def sourceOptions(bootstrap: String, topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Long = 10000L,
      readCommitted: Boolean = false): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
      "failOnDataLoss" -> "false")
    // a consumer of a TRANSACTIONAL upstream must skip aborted
    // transactions, or exactly-once upstream degrades to
    // at-least-once at this hop ("kafka."-prefixed options pass
    // through to the underlying consumer)
    if (!readCommitted) base
    else base + ("kafka.isolation.level" -> "read_committed")
  }

  def source(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    sourceOptions(bootstrap, topic).foldLeft(
      spark.readStream.format("kafka"))((r, kv) => r.option(kv._1, kv._2))
      .load()

  /** Kafka envelope (key/value binary) → typed columns. Schema is
    * pinned explicitly (never inferred — the jsonpath discipline,
    * FeatureEngineeringApproaches.md:134-147). from_json is PERMISSIVE
    * (malformed → all-null struct), so validity = at least one pinned
    * field materialized; rows with none route to the DLQ split.
    *
    * The parse is an evaluation boundary (`VectorExpressions.once`).
    * Without it the optimizer pushes the `__json_ok` filter, and a
    * consumer's own filters (the features leg's `is_valid`), below the
    * parse and inlines `from_json(value)` into every reference, so each
    * `Pipeline` leg plan parsed every envelope 7 (lake, dlq) or 12
    * (features) times, and the filter holding those parses, a
    * `CodegenFallback`, ran outside whole-stage codegen. Behind the
    * boundary one Project parses each envelope once, and the filters
    * above it read the parsed column inside generated code
    * (KafkaEnvelopeSpec pins both). The price: the optimizer can no
    * longer prune the fields a consumer never reads out of the parse's
    * schema, so every row parses all the pinned fields.
    */
  def parseJsonMessages(envelope: DataFrame, schema: StructType): DataFrame = {
    val parsed = once(from_json(col("value").cast("string"), schema))
    val anyField = schema.fieldNames
      .map(f => col("parsed").getField(f).isNotNull)
      .reduce(_ || _)
    envelope
      .withColumn("key_str", col("key").cast("string"))
      .withColumn("parsed", parsed)
      .withColumn("__json_ok", col("parsed").isNotNull && anyField)
  }

  /** The malformed-message split (→ retry/DLQ path, README.md:372-391). */
  def invalidJson(parsed: DataFrame): DataFrame =
    parsed.filter(!col("__json_ok"))

  def validRecords(parsed: DataFrame): DataFrame =
    parsed.filter(col("__json_ok"))
      .select(col("key_str").as("key"), col("parsed.*"))

  /** Typed rows → keyed JSON envelope (README.md:265-270: producer
    * keyed by record id so one key lands in one partition).
    */
  def toEnvelope(df: DataFrame, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Sink options. Spark's Kafka sink is AT-LEAST-ONCE by design — it
    * never drives the producer transaction API (no initTransactions /
    * commitTransaction), so passing `kafka.transactional.id` would
    * break the first send, not upgrade it; true end-to-end
    * exactly-once over Kafka needs a foreachBatch-managed
    * transactional producer, out of scope without a broker. What CAN
    * be hardened declaratively: `idempotent = true` enables producer
    * idempotence + acks=all, which removes broker-side duplicates from
    * network retries (the common duplicate source) while staying
    * inside the sink's delivery model. The reference CLAIMS
    * exactly-once (README.md:66,124) but its commit-after-produce loop
    * is also at-least-once (README.md:265-273); this library's lake
    * path (streaming.Pipeline) is the genuinely exactly-once sink
    * (checkpoint + idempotent files, PipelineSpec).
    */
  def sinkOptions(bootstrap: String, topic: String,
      idempotent: Boolean = false): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "topic" -> topic)
    if (!idempotent) base
    else base ++ Map(
      "kafka.enable.idempotence" -> "true",
      "kafka.acks" -> "all")
  }

  /** Producer config for the foreachBatch-managed TRANSACTIONAL path —
    * the one way to get end-to-end exactly-once INTO Kafka from Spark.
    * Delivery modes, explicitly:
    *
    *  - `sinkOptions(...)`                    at-least-once (Spark sink)
    *  - `sinkOptions(..., idempotent = true)` at-least-once, broker-side
    *    retry duplicates removed (idempotent producer + acks=all)
    *  - `transactionalProducerConf` + foreachBatch   exactly-once: the
    *    batch's sends commit atomically; consumers configured
    *    read_committed (`sourceOptions(readCommitted = true)`) never
    *    observe an aborted batch.
    *
    * These are raw kafka-clients producer keys (no "kafka." prefix):
    * foreachBatch constructs its own producer rather than going
    * through the Spark sink, because the sink never drives the
    * transaction API. `transactionalId` must be STABLE across restarts
    * of the same logical writer (e.g. queryName-partitionId): Kafka
    * fences the zombie instance on initTransactions, which is what
    * makes restart + retry safe. The producer loop itself needs a
    * broker (none in this image); the config contract is asserted
    * broker-free in KafkaEnvelopeSpec and runs unchanged on a real
    * cluster with kafka-clients on the classpath.
    */
  def transactionalProducerConf(bootstrap: String,
      transactionalId: String): Map[String, String] = Map(
    "bootstrap.servers" -> bootstrap,
    "transactional.id" -> transactionalId,
    // idempotence + acks=all + unlimited retries are REQUIRED by the
    // transactional producer; stated explicitly so a copy-paste into
    // non-transactional config keeps the safe values
    "enable.idempotence" -> "true",
    "acks" -> "all",
    "retries" -> Int.MaxValue.toString,
    "max.in.flight.requests.per.connection" -> "5",
    "key.serializer" -> "org.apache.kafka.common.serialization.StringSerializer",
    "value.serializer" -> "org.apache.kafka.common.serialization.StringSerializer")
}
