package graft

import java.lang.reflect.{Method, Proxy}
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import graft.operators.Enrich
import graft.streaming.{Kafka, Pipeline, Streaming}

/** End-to-end reference topology (SURVEY.md §3): file-backed telemetry
  * stream → enrichment → lake zone + windowed feature rows, both
  * checkpointed.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("full pipeline lands lake records and per-minute features") {
    val dir = Files.createTempDirectory("graft_pipe_").toString
    val src = s"$dir/src"
    val mkRow = (id: Long, t: String, m: String, base: Double) =>
      (id, ts(t), m, "Good", Seq(base, base + 1, base - 1, base * 2))
    // two machines over 30 minutes so early windows pass the 5-minute
    // watermark; several input files + maxFilesPerTrigger=1 gives
    // AvailableNow multiple micro-batches (append-mode windows flush
    // only when a LATER batch advances the watermark)
    val rows = (0 until 120).map { i =>
      mkRow(i.toLong, f"2024-01-01 00:${i / 4}%02d:${(i % 4) * 15}%02d",
        if (i % 2 == 0) "M01" else "M02", 10.0 + i)
    }
    // an INVALID record (single spike in a 20-sample signal → |z| ≈
    // 4.36 > 4) that fails at :00 and is redelivered 100 ms later —
    // before its 1 s backoff due-time — so the DLQ leg must emit a
    // bounced "retry" row carrying the due-time hint (README.md:99-100)
    val spike = Seq.fill(19)(0.0) :+ 100.0
    val bad = Seq(
      (500L, ts("2024-01-01 00:10:00"), "M01", "Bad", spike),
      (500L, ts("2024-01-01 00:10:00.1"), "M01", "Bad", spike))
    (rows ++ bad).toDF("id", "ts", "machine", "status", "signal")
      .repartitionByRange(8, $"ts").write.parquet(src)
    val schema = spark.read.parquet(src).schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val running = Pipeline.start(stream, s"$dir/lake", s"$dir/features",
      s"$dir/dlq", s"$dir/cp")
    running.awaitAll()

    // lake zone: every record enriched, partitioned machine/day
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.count() == 122)
    assert(lake.columns.contains("outlier_check")
      && lake.columns.contains("features") && lake.columns.contains("machine"))
    assert(lake.select($"machine").distinct().count() == 2)
    val one = lake.filter($"id" === 0).head()
    assert(!one.isNullAt(one.fieldIndex("quality_metrics")))

    // feature store: finalized 1-minute windows per machine (the last
    // windows stay open — watermark semantics — so strictly fewer
    // windows than minutes)
    val feats = spark.read.parquet(s"$dir/features")
    assert(feats.columns.toSet ==
      Set("window_start", "machine", "rms", "peak", "kurtosis", "n"))
    assert(feats.count() > 0)
    assert(feats.filter($"rms".isNull || $"rms" <= 0).count() == 0)

    // DLQ topic: the premature redelivery bounced as a "retry" row
    // whose last_error_millis IS the backoff due-time (first failure
    // + base × 2^0 = 1 s), per README.md:99-100; the success path
    // ("processed") never reaches this sink
    val dlq = spark.read.parquet(s"$dir/dlq")
    assert(dlq.filter($"route" === "processed").count() == 0)
    val bounced = dlq.filter($"route" === "retry").collect()
    assert(bounced.length == 1, s"expected one bounced record: ${dlq.collect().toSeq}")
    assert(bounced(0).getAs[Long]("id") == 500L)
    assert(bounced(0).getAs[Int]("error_count") == 1)
    assert(bounced(0).getAs[Long]("last_error_millis") ==
      bad(0)._2.getTime + 1000L,
      "bounced record must carry the due-time hint")

    // restart with no new input: exactly-once (nothing re-emitted)
    val again = Pipeline.start(
      spark.readStream.schema(schema).parquet(src),
      s"$dir/lake", s"$dir/features", s"$dir/dlq", s"$dir/cp")
    again.awaitAll()
    assert(spark.read.parquet(s"$dir/lake").count() == 122)
    assert(spark.read.parquet(s"$dir/features").count() == feats.count())
    assert(spark.read.parquet(s"$dir/dlq").count() == dlq.count())
  }

  /** PipelineSpec's telemetry rows: 120 records of two machines over 30
    * minutes, 4 a minute.
    */
  private def telemetryRows = (0 until 120).map { i =>
    val base = 10.0 + i
    (i.toLong, ts(f"2024-01-01 00:${i / 4}%02d:${(i % 4) * 15}%02d"),
      if (i % 2 == 0) "M01" else "M02", "Good", Seq(base, base + 1, base - 1, base * 2))
  }

  private def toEnvelopes(rows: Seq[(Long, java.sql.Timestamp, String, String, Seq[Double])]) =
    Kafka.toEnvelope(rows.toDF("id", "ts", "machine", "status", "signal"), "id")

  test("parsed envelopes through Pipeline: exact lake and DLQ, and every closed window equals the batch twin") {
    import EnvelopeFiles.{envelopeSchema, recordSchema}
    val dir = Files.createTempDirectory("graft_pipe_env_").toString
    val src = s"$dir/src"
    val spike = Seq.fill(19)(0.0) :+ 100.0
    // invalid (|z| > 4) and redelivered before its backoff due time: one "retry" row
    val bounce = Seq(
      (500L, ts("2024-01-01 00:10:00"), "M01", "Bad", spike),
      (500L, ts("2024-01-01 00:10:00.1"), "M01", "Bad", spike))
    // in the first minute but in the last file: older than the watermark by then
    val late = (600L, ts("2024-01-01 00:00:20"), "M02", "Good", Seq(5.0, 6.0, 4.0, 10.0))
    val malformed = Seq(("700", """{"id": 700, "ts": "2024-01-01T00:12:00Z", "machine": "M0""")).toDF("key", "value")
    // 8 files of 15 records, in event-time order by name and modification time
    val files = telemetryRows.grouped(15).toSeq.zipWithIndex.map {
      case (rows, 2) => toEnvelopes(rows ++ bounce)
      case (rows, 3) => toEnvelopes(rows).union(malformed)
      case (rows, 7) => toEnvelopes(rows :+ late)
      case (rows, _) => toEnvelopes(rows)
    }
    EnvelopeFiles.write(spark, src, files)
    val running = Pipeline.start(EnvelopeFiles.validStream(spark, src),
      s"$dir/lake", s"$dir/features", s"$dir/dlq", s"$dir/cp")
    running.awaitAll()

    // the lake holds every valid-JSON envelope, each delivery once
    val lakeIds = spark.read.parquet(s"$dir/lake").select($"id").as[Long].collect().sorted.toSeq
    assert(lakeIds == ((0L until 120L) ++ Seq(500L, 500L, 600L)).sorted)
    // the DLQ holds the planted bounce only
    val dlq = spark.read.parquet(s"$dir/dlq").select($"id", $"route").as[(Long, String)].collect()
    assert(dlq.toSeq == Seq(500L -> "retry"))

    // the batch twin: the same envelopes parsed and enriched as one batch,
    // without the record the watermark drops
    val env = spark.read.schema(envelopeSchema).parquet(src)
    val valid = Kafka.validRecords(Kafka.parseJsonMessages(env, recordSchema))
      .filter($"id" =!= late._1)
    val twin = Streaming.windowedFeatures(
      Enrich.pipeline(valid, "signal", "ts", "status").filter($"outlier_check.is_valid")
        .select($"machine", $"ts", $"features.time_domain.rms".as("rms_in")),
      "ts", "machine", "rms_in", "1 minute", "5 minutes")
      .select($"window.start".as("window_start"), $"machine", $"rms", $"peak", $"kurtosis", $"n")
    def byWindow(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[java.sql.Timestamp]("window_start").getTime, r.getAs[String]("machine")) -> r).toMap
    val want = byWindow(twin)
    val got = byWindow(spark.read.parquet(s"$dir/features"))
    val watermark = running.features.recentProgress
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).max
    val closed = want.keys.filter(_._1 + 60000L <= watermark).toSet
    assert(closed.size >= 40, s"${closed.size} closed windows")
    assert(got.keySet == closed)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    got.foreach { case (k, r) =>
      val t = want(k)
      assert(r.getAs[Long]("n") == t.getAs[Long]("n"), k)
      Seq("rms", "peak", "kurtosis").foreach(c =>
        assert(close(r.getAs[Double](c), t.getAs[Double](c)), s"$c of $k: $r against $t"))
    }
  }

  test("the lake's layout and rows are the same with and without the writer's sort") {
    val dir = Files.createTempDirectory("graft_pipe_writers_").toString
    val src = s"$dir/src"
    // PipelineSpec's input in 8 files, then one file of 20 machines over 2
    // days: 40 (machine, day) partitions, more than 16 open writers
    val wide = (0 until 40).map { i =>
      (1000L + i, ts(f"2024-01-0${2 + i % 2} 00:30:00"), f"W$i%02d", "Good",
        Seq(1.0 + i, 2.0, 3.0, 4.0))
    }
    val files = telemetryRows.grouped(15).map(toEnvelopes).toSeq :+ toEnvelopes(wide)
    EnvelopeFiles.write(spark, src, files)
    def lakeWith(writers: Int): String = {
      val out = s"$dir/w$writers"
      spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", writers.toString)
      try Pipeline.start(EnvelopeFiles.validStream(spark, src),
        s"$out/lake", s"$out/features", s"$out/dlq", s"$out/cp").awaitAll()
      finally spark.conf.unset("spark.sql.maxConcurrentOutputFileWriters")
      s"$out/lake"
    }
    // part files per partition directory
    def layout(lake: String): Map[String, Int] = {
      val root = Paths.get(lake)
      val parts = Files.walk(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
        .toSeq
      parts.groupBy(p => root.relativize(p.getParent).toString).view.mapValues(_.size).toMap
    }
    // rows without the per-batch processing time
    def rows(lake: String) = spark.read.parquet(lake)
      .withColumn("quality_metrics", $"quality_metrics".dropFields("processing_timestamp"))
    val concurrent = lakeWith(16)
    val sorted = lakeWith(0)
    assert(layout(concurrent) == layout(sorted))
    assert(layout(concurrent).size == 2 + 40, layout(concurrent).keys)
    assert(rows(concurrent).count() == 160)
    assert(rows(concurrent).exceptAll(rows(sorted)).isEmpty)
    assert(rows(sorted).exceptAll(rows(concurrent)).isEmpty)
  }

  test("awaitAll stops the other legs when one fails and rethrows that leg's error") {
    val dir = Files.createTempDirectory("graft_pipe_fail_").toString
    val src = s"$dir/src"
    (0 until 64).map { i =>
      (i.toLong, ts(f"2024-01-01 00:${i / 4}%02d:${(i % 4) * 15}%02d"), "M01", "Good",
        Seq(10.0 + i, 11.0 + i, 9.0 + i, 20.0 + i))
    }.toDF("id", "ts", "machine", "status", "signal")
      .repartitionByRange(8, $"ts").write.parquet(src)
    // a file where the lake leg's first partition directory goes: its
    // first batch fails while the other legs have batches to run
    Files.createDirectories(Paths.get(s"$dir/lake"))
    Files.createFile(Paths.get(s"$dir/lake/machine=M01"))
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val running = Pipeline.start(stream, s"$dir/lake", s"$dir/features",
      s"$dir/dlq", s"$dir/cp")
    val err = intercept[StreamingQueryException](running.awaitAll())
    assert(running.lake.exception.contains(err))
    assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).toSeq)
  }

  test("stopAll stops every leg when one fails to stop and rethrows the first failure") {
    val stopped = mutable.Buffer[String]()
    def leg(name: String, stops: Boolean): StreamingQuery = Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[StreamingQuery]),
      (_: AnyRef, m: Method, _: Array[AnyRef]) => m.getName match {
        case "stop" =>
          stopped += name
          if (stops) null else throw new TimeoutException(s"$name did not stop")
        case "toString" => name
        case other => throw new UnsupportedOperationException(other)
      }).asInstanceOf[StreamingQuery]
    val running = Pipeline.Running(leg("lake", stops = true),
      leg("features", stops = false), leg("dlq", stops = false))
    val err = intercept[TimeoutException](running.stopAll())
    assert(stopped == Seq("lake", "features", "dlq"))
    assert(err.getMessage == "features did not stop")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("dlq did not stop"))
  }
}
