package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.util.Try
import graft.operators.Enrich

/** The complete reference topology as ONE composition (SURVEY.md §3):
  *
  *   telemetry source
  *     → outlier check / enrichment (README.md:434-499, 4 stages)
  *     → [par] raw+processed partitioned lake zones (README.md:541-573)
  *     → [par] 1-minute windowed feature rows → feature store
  *             (TechSpikeDataPipeline.md:54-64, the warehouse table)
  *     → [par] retry/DLQ topic with the exponential-backoff due-time
  *             hint on bounced records (README.md:99-100)
  *
  * A reference user's whole deployment (Node-RED + Kafka workers +
  * StarRocks routine load) is these three checkpointed streaming
  * queries over the same input frame. All sinks are idempotent
  * parquet; all queries restart exactly-once from their checkpoints.
  *
  * Expected input columns: id, ts (event time), machine, status,
  * signal (array<double>) — the B2 batch-form message.
  *
  * Build the session that runs it through `graft.HarnessConf`. Its
  * checkpoint-manager conf keeps the legs' checkpoint commits from
  * starting a process per file, and its artifact-isolation and
  * class-name confs let every start and every micro-batch reuse the
  * classes already compiled (without them each `start` recompiles
  * every stage). Its `file:` file system (`graft.io.NioLocalFileSystem`)
  * sets permissions without a `chmod` process, so no checkpoint,
  * state-store or sink write starts one.
  */
object Pipeline {

  case class Running(lake: StreamingQuery, features: StreamingQuery,
      dlq: StreamingQuery) {
    private def legs = Seq(lake, features, dlq)

    /** Waits for every leg. When one fails, stops the others before
      * rethrowing its error, so no leg outlives the call.
      */
    def awaitAll(): Unit =
      try legs.foreach(_.awaitTermination())
      catch { case e: Throwable => stopEach().foreach(e.addSuppressed); throw e }

    /** Stops every leg, even when one fails to stop (`stop` throws
      * `TimeoutException`), and then rethrows the first failure.
      */
    def stopAll(): Unit = stopEach() match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }

    private def stopEach(): Seq[Throwable] =
      legs.flatMap(q => Try(q.stop()).failed.toOption)
  }

  /** Start all three legs over a streaming telemetry frame. */
  def start(telemetry: DataFrame, lakePath: String, featuresPath: String,
      dlqPath: String, checkpointRoot: String,
      sampleRateHz: Double = 2000.0): Running = {
    // one enrichment frame; each leg's query plans (and prunes) its
    // own copy of it
    val enriched = Enrich.pipeline(telemetry, "signal", "ts", "status",
      sampleRateHz)
    // leg 1 — enrichment → lake, partitioned machine/day (the
    // machine/year/month layout, README.md:545-553)
    val lakeQ = enriched.withColumn("day", to_date(col("ts"))).writeStream
      .format("parquet")
      .partitionBy("machine", "day")
      .option("path", lakePath)
      .option("checkpointLocation", s"$checkpointRoot/lake")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // leg 2 — valid rows only (the reference drops invalid before
    // features, README.md:434-436) → windowed 9-feature rows
    val valid = enriched.filter(col("outlier_check.is_valid"))
      .select(col("machine"), col("ts"),
        col("features.time_domain.rms").as("rms_in"))
    val features = Streaming.windowedFeatures(valid, "ts", "machine", "rms_in",
      windowLen = "1 minute", watermark = "5 minutes")
      .select(col("window.start").as("window_start"), col("machine"),
        col("rms"), col("peak"), col("kurtosis"), col("n"))
    val featQ = features.writeStream
      .format("parquet")
      .option("path", featuresPath)
      .option("checkpointLocation", s"$checkpointRoot/features")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // leg 3 — retry/DLQ topic with the exponential-backoff schedule
    // (README.md:99-100): every record becomes an attempt (ok =
    // validity); failures schedule base×2^(k−1) retries, premature
    // redeliveries bounce as "retry" rows whose last_error_millis IS
    // the due-time hint a retry-topic consumer delays on (bounded by
    // MaxBounces), and exhausted records land as "dlq" rows. The
    // "processed" route is dropped here — the lake leg is the success
    // path; this sink is the retry/dead-letter topic only.
    implicit val s: SparkSession = telemetry.sparkSession
    import s.implicits._
    val attempts = enriched
      .select(col("id"), col("outlier_check.is_valid").as("ok"),
        col("machine").as("payload"), unix_millis(col("ts")).as("atMillis"))
      .as[Streaming.Attempt]
    val dlqQ = Streaming.retryRouteBackoff(attempts)
      .filter(col("route") =!= "processed")
      .writeStream
      .format("parquet")
      .option("path", dlqPath)
      .option("checkpointLocation", s"$checkpointRoot/dlq")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    Running(lakeQ, featQ, dlqQ)
  }
}
