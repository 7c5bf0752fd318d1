package pipebench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Signal
import graft.ml.Fft
import graft.operators.Enrich
import graft.streaming.{Kafka, Pipeline, Streaming}

/** The `telemetry` workload: Kafka-shaped envelope files replayed through
  * `Kafka.parseJsonMessages` -> `Kafka.validRecords` -> `Pipeline.start`,
  * one file per micro-batch on each of the three legs (closed loop: every
  * file lands before the start and AvailableNow drains them).
  */
object Telemetry {
  import Exec._

  val Machines = 16
  val SampleHz = 2000.0
  val T0Ms = 1735689600000L // 2025-01-01T00:00:00Z
  /** Event time covered by one file; the watermark delay is 5 minutes. */
  val SliceMs = 400000L

  /** The envelopes of each file, in order: kind and signal length. Every
    * file holds the same number of envelopes, and since the enrichment's
    * cost grows with the square of the signal length, the lengths give the
    * valid-JSON envelopes of every file the same sum of squared lengths
    * (4.5e6). The layout is fixed, so every seed does the same work: the
    * seed sets signal values, machines and timestamps. A "bounce" or
    * "exhausted" entry is one delivery of that record.
    */
  val Layout: Seq[Seq[(String, Int)]] = Seq(
    Seq("normal" -> 1323, "malformed" -> 1323, "spike" -> 1323, "exhausted" -> 1000),
    Seq("normal" -> 1000, "bounce" -> 1118, "bounce" -> 1118, "exhausted" -> 1000),
    Seq("normal" -> 1118, "normal" -> 1118, "exhausted" -> 1000, "exhausted" -> 1000),
    Seq("late" -> 1080, "late" -> 1080, "normal" -> 1080, "exhausted" -> 1000))
  /** Event-time offsets of the exhausted record's deliveries: each comes
    * after its backoff due time (1, 2, 4, 8 s after the previous failure),
    * so the fifth failure dead-letters it.
    */
  val ExhaustedAtMs = Seq(0L, 1500L, 3600L, 7700L, 15800L)

  val recordSchema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("machine", StringType), StructField("status", StringType),
    StructField("signal", ArrayType(DoubleType))))
  val envelopeSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  /** What the generator planted, so every sink's content is known. */
  final case class Planted(records: Int, lakeIds: Seq[Long],
      dlq: Seq[(Long, String)], lateIds: Set[Long], safeWindowEndMs: Long)

  def warmDir(dir: String): String = dir + "_warm"

  private final case class Rec(id: Long, tsMs: Long, machine: Int, status: String,
      signal: Array[Int])

  /** Writes one envelope file per [[Layout]] entry into `dir`, oldest
    * first by mtime, and the warm-up file into [[warmDir]].
    */
  def generate(spark: SparkSession, seed: Long, dir: String): Planted = {
    val rnd = new scala.util.Random(seed)
    val amp = Array.fill(Machines)(100 + rnd.nextInt(900))
    val freq = Array.fill(Machines)(20.0 + rnd.nextInt(400))
    var nextId = 0L
    def signal(m: Int, n: Int, spike: Boolean): Array[Int] = {
      val ph = rnd.nextDouble() * 2 * math.Pi
      val a = amp(m)
      val s = Array.tabulate(n) { t =>
        math.round(a * math.sin(2 * math.Pi * freq(m) * t / SampleHz + ph) +
          (rnd.nextDouble() - 0.5) * 0.4 * a).toInt
      }
      // one sample at 20x the amplitude: |z| > 4 for every length used
      if (spike) s(rnd.nextInt(n)) = 20 * a
      s
    }
    def record(f: Int, n: Int, spike: Boolean): Rec = {
      val id = nextId; nextId += 1
      val m = rnd.nextInt(Machines)
      val ts = T0Ms + f * SliceMs + rnd.nextInt((SliceMs - 20000).toInt)
      val status = if (rnd.nextInt(4) == 0) "Uncertain" else "Good"
      Rec(id, ts, m, status, signal(m, n, spike))
    }
    val lake = mutable.ArrayBuffer.empty[Long]
    val dlq = mutable.ArrayBuffer.empty[(Long, String)]
    val late = mutable.Set.empty[Long]
    var maxTsBeforeLast = 0L
    var bounce = Option.empty[Rec]
    var exhausted = Option.empty[Rec]
    var exhaustedSent = 0
    val envelopes = Layout.zipWithIndex.map { case (kinds, f) =>
      kinds.map { case (kind, n) =>
        val (r, malformed) = kind match {
          case "normal" => (record(f, n, spike = false), false)
          case "malformed" => (record(f, n, spike = false), true)
          case "spike" => (record(f, n, spike = true), false)
          case "bounce" =>
            // redelivered 100 ms later, before its 1 s backoff due time
            bounce match {
              case None => val r = record(f, n, spike = true); bounce = Some(r); (r, false)
              case Some(r) => dlq += (r.id -> "retry"); (r.copy(tsMs = r.tsMs + 100), false)
            }
          case "exhausted" =>
            val r = exhausted.getOrElse(record(f, n, spike = true))
            exhausted = Some(r)
            exhaustedSent += 1
            if (exhaustedSent == ExhaustedAtMs.size) dlq += (r.id -> "dlq")
            (r.copy(tsMs = r.tsMs + ExhaustedAtMs(exhaustedSent - 1)), false)
          case "late" =>
            // in the first 40 s. Spark drops a row as late when it is older
            // than the watermark of the batch before the last; when the
            // last file replays, that is the latest event of the first two
            // files (at least 400 s in) minus 5 minutes, past the end of
            // that 1-minute window
            val r = record(f, n, spike = false)
            late += r.id
            (r.copy(tsMs = T0Ms + rnd.nextInt(40000)), false)
        }
        // the watermark of the features leg advances on normal records only
        if (kind == "normal" && f < Layout.size - 1) maxTsBeforeLast = math.max(maxTsBeforeLast, r.tsMs)
        if (!malformed) lake += r.id
        val js = json(r)
        r.id.toString -> (if (malformed) js.substring(0, js.length / 2) else js)
      }
    }
    require(exhaustedSent == ExhaustedAtMs.size, "the layout must send every exhausted delivery")
    writeFiles(spark, envelopes, dir)
    // a one-record file of its own for the warm-up replay
    val w = Rec(nextId, T0Ms, 0, "Good", signal(0, 1000, spike = false))
    writeFiles(spark, Seq(Seq(w.id.toString -> json(w))), warmDir(dir))
    Planted(envelopes.map(_.size).sum, lake.toSeq.sorted, dlq.toSeq.sorted,
      late.toSet, maxTsBeforeLast - 5 * 60000L)
  }

  private def json(r: Rec): String = {
    val sb = new java.lang.StringBuilder(r.signal.length * 5 + 120)
    sb.append("{\"id\": ").append(r.id)
      .append(", \"ts\": \"").append(java.time.Instant.ofEpochMilli(r.tsMs).toString)
      .append("\", \"machine\": \"M").append(f"${r.machine}%02d")
      .append("\", \"status\": \"").append(r.status).append("\", \"signal\": [")
    var i = 0
    while (i < r.signal.length) {
      if (i > 0) sb.append(", ")
      sb.append(r.signal(i)); i += 1
    }
    sb.append("]}").toString
  }

  /** One parquet file per envelope batch; mtimes fix the replay order. */
  private def writeFiles(spark: SparkSession, batches: Seq[Seq[(String, String)]],
      dir: String): Unit = {
    require(batches.map(_.size).distinct.size == 1, "every file holds the same number of envelopes")
    val tmp = dir + "_tmp"
    // parallelize slices rows into equal runs, one per file
    val rows = batches.flatten.map { case (k, v) => Row(k, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, batches.size), envelopeSchema)
      .write.mode("overwrite").parquet(tmp)
    new File(dir).mkdirs()
    val parts = new File(tmp).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    require(parts.length == batches.size, s"expected ${batches.size} files, got ${parts.length}")
    val base = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = new File(dir, f"envelopes-$i%03d.parquet")
      require(p.renameTo(dst), s"cannot move $p")
      dst.setLastModified(base + i * 10000L)
    }
  }

  final case class Rep(wallMs: Double, legs: Map[String, java.util.UUID])
  /** One timed replay: its legs, whether it was traced, its CPU and GC. */
  final case class Replay(rep: Rep, traced: Boolean, cpuNs: Long, gcMs: Long, out: String)

  private def runPipeline(spark: SparkSession, src: String, out: String,
      progress: Progress): Rep = {
    val env = spark.readStream.schema(envelopeSchema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val records = Kafka.validRecords(Kafka.parseJsonMessages(env, recordSchema))
    spark.sparkContext.setLocalProperty(Counts.ItemKey, null)
    val t0 = System.nanoTime()
    val r = Pipeline.start(records, s"$out/lake", s"$out/features", s"$out/dlq", s"$out/cp")
    try r.awaitAll() finally r.stopAll()
    val wallMs = (System.nanoTime() - t0) / 1e6
    // the listener bus delivers progress events after the query returns
    val deadline = System.nanoTime() + 10e9.toLong
    Seq(r.lake, r.features, r.dlq).foreach { q =>
      while (progress.of(q.runId).size < q.recentProgress.length && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    val legs = Map("lake" -> r.lake.runId, "features" -> r.features.runId, "dlq" -> r.dlq.runId)
    legs.foreach { case (leg, id) =>
      say(s"$leg batches (rows, watermark): " + progress.of(id).map(pr =>
        s"${pr.numInputRows}/${Option(pr.eventTime.get("watermark")).getOrElse("-")}").mkString(" "))
    }
    Rep(wallMs, legs)
  }

  /** Sinks against the planted content; returns the mismatch count. */
  private def check(spark: SparkSession, out: String, p: Planted,
      twin: Map[(Long, String), Row], corrupt: Boolean): Long = {
    def diff[T: Ordering](got: Seq[T], want: Seq[T]): Long = {
      val g = got.groupBy(identity).view.mapValues(_.size).toMap
      val w = want.groupBy(identity).view.mapValues(_.size).toMap
      (g.keySet ++ w.keySet).toSeq.map(k =>
        math.abs(g.getOrElse(k, 0) - w.getOrElse(k, 0)).toLong).sum
    }
    val wantLake = if (corrupt) p.lakeIds :+ -1L else p.lakeIds
    val lake = spark.read.parquet(s"$out/lake").select("id").collect().map(_.getLong(0)).toSeq
    val dlq = spark.read.parquet(s"$out/dlq").select("id", "route").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val feats = spark.read.parquet(s"$out/features").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime, r.getAs[String]("machine")) -> r)
      .toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val wrong = feats.filter { case (k, r) =>
      twin.get(k).forall { t =>
        r.getAs[Long]("n") != t.getAs[Long]("n") ||
          Seq("rms", "peak", "kurtosis").exists(c => !close(r.getAs[Double](c), t.getAs[Double](c)))
      }
    }
    val missing = twin.keys.filter(k => k._1 + SliceMs <= p.safeWindowEndMs && !feats.contains(k))
    val m = diff(lake, wantLake) + diff(dlq, p.dlq) + wrong.size + missing.size
    if (m > 0) System.err.println(s"[pipebench] telemetry sinks in $out: lake ${diff(lake, wantLake)}, " +
      s"dlq ${diff(dlq, p.dlq)}, feature rows wrong ${wrong.values.mkString(" ")}, " +
      s"missing ${missing.mkString(" ")}")
    m
  }

  /** The batch twin of the features leg over the same files. */
  private def twinFeatures(spark: SparkSession, src: String, p: Planted): Map[(Long, String), Row] = {
    val env = spark.read.schema(envelopeSchema).parquet(src)
      .repartition(spark.sparkContext.defaultParallelism, col("key"))
    val valid = Kafka.validRecords(Kafka.parseJsonMessages(env, recordSchema))
      .filter(!col("id").isin(p.lateIds.toSeq: _*))
    // cached before the filter, so each record is enriched once
    val enriched = Enrich.pipeline(valid, "signal", "ts", "status", SampleHz)
      .select(col("machine"), col("ts"), col("outlier_check.is_valid").as("ok"),
        col("features.time_domain.rms").as("rms_in"))
      .cache()
    val rows = enriched.filter(col("ok")).drop("ok")
    Streaming.windowedFeatures(rows, "ts", "machine", "rms_in", "1 minute", "5 minutes")
      .select(col("window.start").as("window_start"), col("machine"), col("rms"),
        col("peak"), col("kurtosis"), col("n"))
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime, r.getAs[String]("machine")) -> r)
      .toMap
  }

  def run(spark: SparkSession, a: Args, tr: Tracer, counts: Counts, progress: Progress): Outcome = {
    val sc = spark.sparkContext
    val src = s"${a.work}/envelopes"
    val p = generate(spark, a.seed, src)
    say(s"generated ${p.records} records")
    // warm-up: one record through all three legs compiles the plans
    runPipeline(spark, warmDir(src), s"${a.work}/out-warm", progress)
    say("warm-up done")

    val firstTimedMs = System.currentTimeMillis()
    val runs = if (tr.on) math.max(2, a.reps) else a.reps
    val reps = (0 until runs).map { i =>
      val traced = tr.on && i % 2 == 1
      if (traced) sc.addSparkListener(counts)
      val c0 = Proc.cpuNs; val gc0 = Proc.gcMs
      val out = s"${a.work}/out-$i"
      val rep = (if (traced) tr else Tracer.off).span("pipeline", s"rep$i")(
        runPipeline(spark, src, out, progress))
      // each leg's micro-batches, as the streaming listener timed them
      if (traced) rep.legs.foreach { case (leg, id) =>
        progress.of(id).foreach(pr => tr.add(s"Pipeline.$leg.batch", s"rep$i",
          tr.idOf("pipeline", s"rep$i"), java.time.Instant.parse(pr.timestamp).toEpochMilli,
          pr.durationMs.get("triggerExecution")))
      }
      val cpu = Proc.cpuNs - c0
      say(s"replay $i done in ${rep.wallMs} ms (traced=$traced)")
      if (traced) { counts.drain(spark); sc.removeSparkListener(counts) }
      Replay(rep, traced, cpu, Proc.gcMs - gc0, out)
    }
    val twin = twinFeatures(spark, src, p)
    say("batch twin done")
    val mismatches = reps.map(r => check(spark, r.out, p, twin, a.corrupt)).sum
    say("sinks checked")

    def batches(rs: Seq[Rep]) = rs.flatMap(_.legs.values).flatMap(progress.of)
    def trigger(rs: Seq[Rep]) = batches(rs).map(_.durationMs.get("triggerExecution").toDouble)
    val untraced = reps.filterNot(_.traced)
    val valid = p.lakeIds.size
    val e2e = Map(
      "items_per_s" -> median(untraced.map(r => valid / (r.rep.wallMs / 1000.0))),
      "op_p50_ms" -> pct(trigger(untraced.map(_.rep)), 0.5),
      "op_p90_ms" -> pct(trigger(untraced.map(_.rep)), 0.9),
      "cpu_ms_per_item" -> untraced.map(_.cpuNs).sum / 1e6 / (p.records.toLong * untraced.size))

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (tr.on) {
      val traced = reps.filter(_.traced)
      val tp = traced.size.toDouble
      def ms(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, keys: String*) =
        keys.map(k => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      Seq("lake", "features", "dlq").foreach { leg =>
        val ps = traced.flatMap(r => progress.of(r.rep.legs(leg)))
        val rows = ps.map(_.numInputRows).sum
        val busy = ps.map(ms(_, "triggerExecution")).sum
        layer(s"Pipeline.$leg.records_per_s") = if (busy > 0) rows / (busy / 1000.0) else 0.0
        layer(s"Pipeline.$leg.batch_p50_ms") = pct(ps.map(ms(_, "triggerExecution")), 0.5)
        layer(s"Pipeline.$leg.add_batch_ms") = ps.map(ms(_, "addBatch")).sum / tp
        layer(s"Pipeline.$leg.planning_ms") = ps.map(ms(_, "queryPlanning")).sum / tp
        layer(s"Pipeline.$leg.commit_ms") = ps.map(ms(_, "walCommit", "commitOffsets")).sum / tp
        layer(s"Pipeline.$leg.source_ms") = ps.map(ms(_, "getBatch", "latestOffset")).sum / tp
      }
      def state(leg: String) = traced.flatMap(r => progress.of(r.rep.legs(leg)))
        .flatMap(_.stateOperators.headOption)
      val fs = state("features"); val ds = state("dlq")
      layer("Streaming.windowedFeatures.state_rows") = fs.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
      layer("Streaming.windowedFeatures.state_mb") = fs.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0)
      layer("Streaming.windowedFeatures.late_dropped") = fs.map(_.numRowsDroppedByWatermark).sum / tp
      layer("Streaming.retryRouteBackoff.state_rows") = ds.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
      layer("Streaming.retryRouteBackoff.state_mb") = ds.map(_.memoryUsedBytes / 1048576.0).maxOption.getOrElse(0.0)
      val lakeFiles = listFiles(new File(s"${traced.head.out}/lake")).filter(_.getName.endsWith(".parquet"))
      layer("Pipeline.lake.files") = lakeFiles.size
      layer("Pipeline.lake.bytes_per_record") = lakeFiles.map(_.length).sum.toDouble / valid
      // how many legs run the enrichment and how many FFT UDF calls the
      // legs make per record, read from the largest physical plan of each leg
      val legPlans = traced.head.rep.legs.map { case (leg, id) =>
        leg -> counts.plans.asScala.filter(_._1 == id.toString).map(_._2)
          .maxByOption(_.length).getOrElse("") }
      layer("Pipeline.enrich_legs") = legPlans.values.count(_.contains("array_max(transform(")).toDouble
      layer("Pipeline.fft_calls_per_record") =
        legPlans.values.map(pl => pl.sliding(4).count(_ == "UDF(")).sum.toDouble
      val acc = new ExecAcc
      traced.foreach(r => r.rep.legs.values.foreach(id => acc += counts.get(id.toString)))
      layer("exec.gc_ms") = traced.map(_.gcMs).sum / tp
      val wall = traced.map(_.rep.wallMs).sum
      layer("exec.ms") = wall / tp
      layer("exec.jobs") = acc.jobs / tp
      layer("exec.stages") = acc.stages / tp
      layer("exec.tasks") = acc.tasks / tp
      layer("exec.sched_delay_ms") = acc.schedMs / tp
      layer("exec.cpu_ms") = acc.cpuNs / 1e6 / tp
      layer("exec.cpu_util") = acc.cpuNs / 1e6 / (wall * sc.defaultParallelism)
      layer("exec.shuffle_bytes") = acc.shuffleBytes / tp
      layer("exec.spill_bytes") = acc.spillBytes / tp
      layer ++= kernels(spark, src, tr)
      layer("trace.overhead_ms") = pct(trigger(traced.map(_.rep)), 0.5) - e2e("op_p50_ms")
      // listener counts per traced replay and leg, keyed like the spans
      val legCounts = traced.map { r =>
        s"rep${reps.indexOf(r)}" -> r.rep.legs.map { case (leg, id) =>
          val c = counts.get(id.toString)
          leg -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "executor_cpu_ms" -> c.cpuNs / 1e6, "sched_delay_ms" -> c.schedMs,
            "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes)
        }
      }.toMap
      a.traceOut.foreach(path => Outcome.writeTrace(path, tr, Map("self_ms" -> tr.selfMs(),
        "legs" -> legCounts, "leg_plans" -> legPlans)))
    }
    Outcome(p.records * reps.size, math.min(mismatches, p.records.toLong * reps.size).toInt,
      e2e, layer.toMap, firstTimedMs,
      Map("records" -> p.records, "item_list_sha256" -> Proc.sha256(Layout.toString),
        "valid_json" -> valid, "replays" -> runs,
        "op_samples" -> trigger(untraced.map(_.rep)).size,
        "leg_trigger_ms" -> Seq("lake", "features", "dlq").map(leg => leg ->
          untraced.flatMap(r => progress.of(r.rep.legs(leg)))
            .map(_.durationMs.get("triggerExecution").toDouble)).toMap,
        "planted_dlq" -> p.dlq.size, "planted_late" -> p.lateIds.size,
        "sink_mismatches" -> mismatches))
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  /** Kernels, enrichment and parsing on this run's own records. */
  private def kernels(spark: SparkSession, src: String, tr: Tracer): Map[String, Double] = {
    val reps = 3
    val env = spark.read.schema(envelopeSchema).parquet(src).cache()
    val nEnv = env.count()
    val parsed = Kafka.validRecords(Kafka.parseJsonMessages(env, recordSchema)).cache()
    val n = parsed.count()
    val invalid = Kafka.invalidJson(Kafka.parseJsonMessages(env, recordSchema)).count()
    // the cheap kernels run over 20 copies of the records, so each timed
    // call runs well above the per-query floor
    val copies = 20
    val env20 = env.crossJoin(spark.range(copies).toDF("copy")).cache()
    env20.count()
    val sig20 = parsed.select("signal").crossJoin(spark.range(copies).toDF("copy")).cache()
    sig20.count()
    val sig = col("signal")
    val scan = sig20.select(size(sig))
    val out = Map(
      "Signal.ns_per_row" -> nsPerRow(n * copies, reps, tr, "Signal")(
        sig20.select(Signal.arrayRms(sig)), scan),
      "Fft.dominant_freq.ns_per_row" -> nsPerRow(n * copies, reps, tr, "Fft.dominant_freq")(
        sig20.select(Fft.dominant_freq(sig, lit(SampleHz))), scan),
      "Fft.spectral_energy.ns_per_row" -> nsPerRow(n * copies, reps, tr, "Fft.spectral_energy")(
        sig20.select(Fft.spectral_energy(sig)), scan),
      "Kafka.parse_ns_per_record" -> nsPerRow(nEnv * copies, reps, tr, "Kafka.parse")(
        Kafka.validRecords(Kafka.parseJsonMessages(env20, recordSchema)),
        env20.select(length(col("value")))),
      "Enrich.ns_per_record" -> nsPerRow(n, reps, tr, "Enrich")(
        Enrich.pipeline(parsed, "signal", "ts", "status", SampleHz), parsed),
      "Kafka.invalid_frac" -> invalid.toDouble / nEnv)
    Seq(sig20, env20, parsed, env).foreach(_.unpersist())
    out
  }
}
