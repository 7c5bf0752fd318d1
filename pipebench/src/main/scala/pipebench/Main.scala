package pipebench

import org.apache.spark.sql.SparkSession
import graft.HarnessConf

/** Command-line arguments, as `run.py` passes them. */
final case class Args(workload: String, seed: Long, reps: Int, trace: Boolean,
    data: String, work: String, items: String, expected: String,
    record: Option[String], corrupt: Boolean, traceOut: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("reps").toInt, m("trace") == "1",
      m.getOrElse("data", ""), m("work"), m.getOrElse("items", ""),
      m.getOrElse("expected", ""), m.get("record"), m.get("corrupt").contains("1"),
      m.get("trace-out"))
  }
}

/** What one workload run measured. */
final case class Outcome(attempted: Int, failed: Int, e2e: Map[String, Double],
    layer: Map[String, Double], firstTimedMs: Long, info: Map[String, Any])

object Outcome {
  def writeTrace(path: String, tr: Tracer, extra: Map[String, Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Json.obj(extra.toSeq :+ ("spans" -> Json.RawJson(tr.toJson)): _*) + "\n")
}

/** One workload run: builds the session through `HarnessConf`, runs the
  * workload and prints one `PIPEBENCH {json}` line that `run.py` reads.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val loadBefore = Proc.loadAvg
    val cpuBefore = Proc.hostCpu
    val k = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = HarnessConf(SparkSession.builder()
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(a.trace)
    val counts = new Counts
    val progress = new Progress
    spark.streams.addListener(progress)
    val out = a.workload match {
      case "telemetry" => Telemetry.run(spark, a, tr, counts, progress)
      case "warehouse" => Batch.run(spark, a, tr, counts)
      case w => sys.error(s"unknown workload $w")
    }
    say("workload done")
    val peakRss = Proc.peakRssMb
    val context = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$k]",
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "loadavg_before" -> loadBefore,
      "loadavg_after" -> Proc.loadAvg,
      "host_cpu_busy_frac" -> Proc.busyFrac(cpuBefore, Proc.hostCpu),
      "host_cpu_steal_frac" -> Proc.stealFrac(cpuBefore, Proc.hostCpu)) ++ out.info
    println("PIPEBENCH " + Json.obj(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> (out.e2e + ("peak_rss_mb" -> peakRss)),
      "layer" -> out.layer,
      "first_timed_ms" -> out.firstTimedMs,
      "context" -> context))
    spark.stop()
    say("session stopped")
  }
}

/** Digests the parquet result dumps that `graft.Verify` wrote for the
  * listed queries and compares them with the expected digests; used by
  * crosscheck.sh to tie the expected-digest file to the DuckDB oracle.
  * Args: <verify out dir> <items file> <expected digests file>
  */
object DumpDigests {
  def main(argv: Array[String]): Unit = {
    val Array(dumps, items, expected) = argv
    val spark = HarnessConf(SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val want = Batch.readLines(expected).map { l => val Array(n, d) = l.split("\t"); n -> d }.toMap
    val bad = Batch.readLines(items).filter { n =>
      val got = Exec.consume(spark.read.parquet(s"$dumps/$n"), Tracer.off, n).toString
      val ok = want.get(n).contains(got)
      println(s"${if (ok) "OK  " else "DIFF"} $n $got")
      !ok
    }
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
