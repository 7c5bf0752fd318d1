package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.types._
import graft.streaming.Kafka

/** Kafka-shaped envelope files for streaming tests, and the plan checks
  * of the envelope parse.
  */
object EnvelopeFiles {

  /** The telemetry record each envelope's value carries. */
  val recordSchema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("machine", StringType), StructField("status", StringType),
    StructField("signal", ArrayType(DoubleType))))
  val envelopeSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  /** Writes each frame of (key, value) envelopes as one parquet file in
    * `dir`, in order, with modification times 10 s apart: a file stream
    * with `maxFilesPerTrigger` 1 takes one file per micro-batch, in this
    * order.
    */
  def write(spark: SparkSession, dir: String, files: Seq[DataFrame]): Unit = {
    new File(dir).mkdirs()
    val base = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory("graft_env_part_").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.startsWith("part-")).head
      val dst = new File(dir, f"envelopes-$i%03d.parquet")
      assert(part.renameTo(dst), s"cannot move $part")
      dst.setLastModified(base + i * 10000L)
    }
  }

  /** The parsed valid records of an envelope stream over `dir`, one file
    * per micro-batch.
    */
  def validStream(spark: SparkSession, dir: String): DataFrame =
    Kafka.validRecords(Kafka.parseJsonMessages(
      spark.readStream.schema(envelopeSchema).option("maxFilesPerTrigger", "1").parquet(dir),
      recordSchema))

  private def parsesIn(e: Expression): Int = e.collect { case j: JsonToStructs => j }.size

  /** `from_json` calls in a physical plan. */
  def parses(plan: SparkPlan): Int =
    PlanCheck.nodes(plan).map(_.expressions.map(parsesIn).sum).sum

  /** For each filter that reads the parsed struct (the `__json_ok`
    * split), whether it runs inside a whole-stage codegen stage.
    */
  def parsedFiltersInCodegen(plan: SparkPlan): Seq[Boolean] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(stage)
    })
    val inCodegen = PlanCheck.nodes(plan).collect { case w: WholeStageCodegenExec => w }
      .flatMap(w => stage(w.child)).toSet
    PlanCheck.nodes(plan).collect {
      case f: FilterExec if f.condition.references.exists(_.name == "parsed") => inCodegen(f)
    }
  }
}
