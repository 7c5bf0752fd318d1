package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Enrich

/** Compile once per stream, not once per micro-batch: a stream's
  * generated classes are keyed by their source, so a per-batch value
  * written into that source (the batch timestamp of
  * `current_timestamp()`) recompiles the whole stage on every batch.
  * `Enrich.qualityMetrics` reads its timestamp through
  * `VectorExpressions.batchTimestamp`, which keeps the value out of the
  * source. Janino's compile counter is JVM-wide and suites share one
  * JVM, so it is read only while this suite's query runs.
  */
class StreamCodegenSpec extends SparkSpec {
  import spark.implicits._

  private val RowsPerBatch = 8

  /** Process everything released so far; processAllAvailable can return
    * before a listing that started before the release sees the file.
    */
  private def drain(q: StreamingQuery, rows: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    q.processAllAvailable()
    while (q.recentProgress.map(_.numInputRows).sum < rows) {
      assert(System.nanoTime() < deadline, s"stream did not reach $rows rows")
      Thread.sleep(20)
      q.processAllAvailable()
    }
  }

  test("lake-leg stream: no Janino compile after the first micro-batch, one processing_timestamp per batch") {
    val dir = Files.createTempDirectory("graft_codegen_").toString
    val src = Paths.get(s"$dir/src")
    Files.createDirectories(src)
    val batches = 4
    // every batch's input file is written before the stream starts:
    // writing it between batches would compile classes of its own
    (0 until batches).foreach { b =>
      (0 until RowsPerBatch).map { i =>
        val id = b * RowsPerBatch + i
        (id.toLong, new java.sql.Timestamp(1704067200000L + id * 1000L),
          if (i % 2 == 0) "M01" else "M02", "Good",
          Seq.tabulate(64)(t => math.sin(t * 0.3 + id) * 100.0))
      }.toDF("id", "ts", "machine", "status", "signal")
        .coalesce(1).write.parquet(s"$dir/staged/b$b")
    }
    val schema = spark.read.parquet(s"$dir/staged/b0").schema
    def release(b: Int): Unit = {
      val part = Files.list(Paths.get(s"$dir/staged/b$b")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      Files.move(part, src.resolve(s"b$b.parquet"))
    }

    release(0)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    // the lake leg of Pipeline.start: no watermark, no state
    val q = Enrich.pipeline(stream, "signal", "ts", "status")
      .withColumn("day", to_date(col("ts"))).writeStream
      .format("parquet")
      .partitionBy("machine", "day")
      .option("path", s"$dir/lake")
      .option("checkpointLocation", s"$dir/cp")
      .start()
    val compiled = try {
      drain(q, RowsPerBatch)
      val afterFirst = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 until batches).foreach { b =>
        release(b)
        drain(q, (b + 1L) * RowsPerBatch)
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - afterFirst
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == batches)
    assert(compiled == 0, s"$compiled classes compiled after the first micro-batch")

    val stamps = spark.read.parquet(s"$dir/lake")
      .groupBy(($"id" / RowsPerBatch).cast("int").as("batch"))
      .agg(countDistinct($"quality_metrics.processing_timestamp").as("values"),
        min($"quality_metrics.processing_timestamp").as("stamp"), count(lit(1)).as("rows"))
      .collect()
    assert(stamps.length == batches)
    stamps.foreach { r =>
      assert(r.getAs[Long]("values") == 1L, s"batch ${r.getAs[Int]("batch")}: ${r.getAs[Long]("values")} timestamps")
      assert(r.getAs[Long]("rows") == RowsPerBatch)
    }
    assert(stamps.map(_.getAs[java.sql.Timestamp]("stamp")).distinct.length == batches,
      "every micro-batch carries its own processing timestamp")
  }
}
