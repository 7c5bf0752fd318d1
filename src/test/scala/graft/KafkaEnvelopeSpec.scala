package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.Kafka

/** Kafka message-envelope transforms (S3/S4/S8), tested broker-free on
  * binary key/value frames shaped like the connector's output.
  */
class KafkaEnvelopeSpec extends SparkSpec {
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType),
    StructField("status", StringType)))

  private def envelope(rows: (String, String)*) =
    rows.toDF("k", "j").select(
      $"k".cast("binary").as("key"), $"j".cast("binary").as("value"))

  test("valid JSON parses into typed columns with the pinned schema") {
    val env = envelope(("1", """{"id":1,"v":2.5,"status":"Good"}"""))
    val out = Kafka.validRecords(Kafka.parseJsonMessages(env, schema))
    val r = out.head()
    assert(out.columns.toSeq == Seq("key", "id", "v", "status"))
    assert(r.getString(0) == "1" && r.getLong(1) == 1L && r.getDouble(2) == 2.5)
  }

  test("malformed JSON routes to the invalid split, not an exception") {
    val env = envelope(("1", """{"id":1,"v":2.5,"status":"Good"}"""),
      ("2", """{not json at all"""))
    val parsed = Kafka.parseJsonMessages(env, schema)
    assert(Kafka.validRecords(parsed).count() == 1)
    assert(Kafka.invalidJson(parsed).count() == 1)
    assert(Kafka.invalidJson(parsed).select($"key_str").as[String].head() == "2")
    // edge shapes: only a value with at least one pinned field is valid
    val edges = envelope(
      ("ok", """{"id":1,"v":2.5,"status":"Good"}"""),
      ("truncated", """{"id":1,"v":2.5,"sta"""),
      ("empty-object", "{}"),
      ("null", "null"),
      ("array", """[{"id":1,"v":2.5,"status":"Good"}]"""),
      ("unknown-fields", """{"foo":1,"bar":"x"}"""),
      ("one-field", """{"status":"Good"}"""))
    val edgesParsed = Kafka.parseJsonMessages(edges, schema)
    def keys(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).as[String].collect().toSet
    assert(keys(Kafka.validRecords(edgesParsed), "key") == Set("ok", "one-field"))
    assert(keys(Kafka.invalidJson(edgesParsed), "key_str") ==
      Set("truncated", "empty-object", "null", "array", "unknown-fields"))
  }

  test("each envelope is parsed once per plan, and the validity filter runs in generated code") {
    import EnvelopeFiles.{parsedFiltersInCodegen, parses}
    val dir = java.nio.file.Files.createTempDirectory("graft_env_plan_").toString
    // a file scan, not a local relation the optimizer would evaluate away
    envelope(("1", """{"id":1,"v":2.5,"status":"Good"}"""), ("2", """{not json at all"""))
      .write.parquet(s"$dir/env")
    val parsed = Kafka.parseJsonMessages(spark.read.parquet(s"$dir/env"), schema)
    Seq(Kafka.validRecords(parsed), Kafka.invalidJson(parsed)).foreach { df =>
      assert(df.count() == 1)
      val plan = df.queryExecution.executedPlan
      assert(parses(plan) == 1, plan)
      val inCodegen = parsedFiltersInCodegen(plan)
      assert(inCodegen.nonEmpty && inCodegen.forall(identity), plan)
    }
  }

  test("every Pipeline leg over parsed envelopes parses each envelope once") {
    import EnvelopeFiles.parses
    val dir = java.nio.file.Files.createTempDirectory("graft_env_legs_").toString
    val rec = (i: Int) => (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 2}%02d:00"),
      s"M0${i % 2}", "Good", Seq(1.0 + i, 2.0, 0.5, 3.0))
    val files = (0 until 3).map { f =>
      Kafka.toEnvelope((f * 8 until f * 8 + 8).map(rec)
        .toDF("id", "ts", "machine", "status", "signal"), "id")
    }
    EnvelopeFiles.write(spark, s"$dir/src", files)
    // data batches only, so each leg's last execution plans a read of its input
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val running = graft.streaming.Pipeline.start(EnvelopeFiles.validStream(spark, s"$dir/src"),
      s"$dir/lake", s"$dir/features", s"$dir/dlq", s"$dir/cp")
    try running.awaitAll() finally spark.conf.unset(noData)
    Seq(running.lake, running.features, running.dlq).foreach { q =>
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(parses(plan) == 1, plan)
    }
    assert(spark.read.parquet(s"$dir/lake").count() == 24)
  }

  test("toEnvelope round-trips through parse") {
    val typed = Seq((7L, 1.5, "Good")).toDF("id", "v", "status")
    val env = Kafka.toEnvelope(typed, "id")
    assert(env.columns.toSeq == Seq("key", "value"))
    val back = Kafka.validRecords(Kafka.parseJsonMessages(
      env.select($"key".cast("binary").as("key"),
        $"value".cast("binary").as("value")), schema))
    val r = back.head()
    assert(r.getString(0) == "7" && r.getLong(1) == 7L
      && r.getDouble(2) == 1.5 && r.getString(3) == "Good")
  }

  test("source/sink option maps carry the reference's config") {
    val src = Kafka.sourceOptions("broker:9092", "cnc.raw",
      startingOffsets = "earliest", maxOffsetsPerTrigger = 100)
    assert(src("subscribe") == "cnc.raw")
    assert(src("maxOffsetsPerTrigger") == "100")
    assert(Kafka.sinkOptions("broker:9092", "cnc.processed")("topic") == "cnc.processed")
  }

  test("idempotent sink option hardens delivery without breaking the sink model") {
    val plain = Kafka.sinkOptions("b:9092", "t")
    assert(!plain.contains("kafka.enable.idempotence"), "default is plain at-least-once")
    val idem = Kafka.sinkOptions("b:9092", "t", idempotent = true)
    assert(idem("kafka.enable.idempotence") == "true")
    assert(idem("kafka.acks") == "all")
    // Spark's sink never drives the transaction API — a transactional.id
    // would break the first send, so it must never be emitted
    assert(!idem.contains("kafka.transactional.id"))
  }

  test("transactional producer conf carries the full exactly-once contract") {
    val conf = Kafka.transactionalProducerConf("b:9092", "graft-agg-0")
    // the three settings Kafka REQUIRES of a transactional producer
    assert(conf("transactional.id") == "graft-agg-0")
    assert(conf("enable.idempotence") == "true")
    assert(conf("acks") == "all")
    assert(conf("retries").toLong > 0)
    // raw kafka-clients keys for the foreachBatch-owned producer —
    // none of the Spark-sink "kafka." prefixes may leak in
    assert(conf.keys.forall(!_.startsWith("kafka.")), conf.keys.mkString(","))
    // distinct writers must be able to carry distinct fencing ids
    assert(Kafka.transactionalProducerConf("b:9092", "graft-agg-1")("transactional.id")
      != conf("transactional.id"))
  }

  test("read_committed source option completes the exactly-once hop") {
    val plain = Kafka.sourceOptions("b:9092", "t")
    assert(!plain.contains("kafka.isolation.level"),
      "default consumer stays read_uncommitted")
    val rc = Kafka.sourceOptions("b:9092", "t", readCommitted = true)
    assert(rc("kafka.isolation.level") == "read_committed")
    // the rest of the consumer contract is unchanged by the flag
    assert(rc("subscribe") == "t" && rc("failOnDataLoss") == "false")
  }
}
