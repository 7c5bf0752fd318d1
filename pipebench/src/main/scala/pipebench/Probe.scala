package pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Progress lines on stderr, which run.py keeps in a log file. */
object say {
  def apply(msg: String): Unit =
    System.err.println(s"[pipebench] ${java.time.Instant.now()} $msg")
}

/** Process-level gauges read from the OS and the JVM. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set (VmHWM) in MB. */
  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** First 16 hex digits of the SHA-256 of `s`. */
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** The host's CPU time counters (user, nice, system, idle, iowait, irq,
    * softirq, steal), summed over all CPUs, from /proc/stat.
    */
  def hostCpu: Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").slice(1, 9).map(_.toLong)
    catch { case _: Throwable => Array.fill(8)(0L) }

  /** Share of the host's CPU time between two readings that was busy
    * (neither idle nor iowait), and the share a hypervisor stole.
    */
  def busyFrac(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.sum > 0) (d.sum - d(3) - d(4)).toDouble / d.sum else 0.0
  }

  def stealFrac(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  def loadAvg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "" }
}

/** Sums of one item's jobs, stages and tasks. */
final class ExecAcc {
  var jobs, stages, tasks = 0L
  var cpuNs, schedMs, shuffleBytes, spillBytes = 0L

  def +=(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; schedMs += o.schedMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Execution counts keyed to benchmark items, read from Spark's listener
  * bus. The item of a job, stage or task is the `pipebench.item` local
  * property of the thread that started the job; streaming jobs, started
  * with that property cleared, are keyed by their job group, which is the
  * streaming query's run id.
  */
final class Counts extends SparkListener {
  import Counts._
  private val byItem = mutable.Map.empty[String, ExecAcc]
  private val stageItem = mutable.Map.empty[Int, String]
  private val fences = mutable.Set.empty[String]
  /** Physical plan text of every SQL execution, by job group. */
  val plans = new ConcurrentLinkedQueue[(String, String)]

  private def itemOf(p: java.util.Properties): String = Option(p).flatMap { p =>
    Option(p.getProperty(ItemKey)).orElse(Option(p.getProperty("spark.jobGroup.id")))
  }.getOrElse(Other)

  private def acc(item: String) = byItem.getOrElseUpdate(item, new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(itemOf(e.properties)).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val item = itemOf(e.properties)
    stageItem(e.stageInfo.stageId) = item
    acc(item).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val item = stageItem.getOrElse(e.stageId, Other)
    if (item.startsWith(FencePrefix)) fences += item
    val a = acc(item)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val getting = if (info.gettingResultTime > 0)
        info.finishTime - info.gettingResultTime else 0L
      a.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans.add(s.jobGroupId.getOrElse("") -> s.physicalPlanDescription)
    case _ => ()
  }

  def get(item: String): ExecAcc = synchronized {
    val out = new ExecAcc; byItem.get(item).foreach(out += _); out
  }

  /** Waits until the bus has delivered every event posted before now: a
    * one-task job tagged with a fresh fence id is submitted, and the bus
    * delivers events in order.
    */
  def drain(spark: SparkSession): Unit = {
    val fence = FencePrefix + System.nanoTime()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ItemKey)
    sc.setLocalProperty(ItemKey, fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(ItemKey, prev)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!synchronized(fences.contains(fence)) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

object Counts {
  val ItemKey = "pipebench.item"
  val Other = "-"
  val FencePrefix = "__fence__"
}

/** Streaming progress events, as the public listener delivers them. */
final class Progress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** In-memory spans; written out once at the end of a traced run. When
  * tracing is off, [[span]] only runs its body.
  */
final class Tracer(val on: Boolean) {
  import Tracer.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  def span[T](name: String, item: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, item, t0 - origin, System.nanoTime() - origin)
      }
    }

  /** Records a span that ran on another thread, timed in wall-clock
    * milliseconds (a streaming micro-batch), under the span `parent`.
    */
  def add(name: String, item: String, parent: Int, startMs: Long, durMs: Long): Unit =
    if (on) {
      val start = (startMs - originMs) * 1000000L
      done += Span(next, parent, name, item, start, start + durMs * 1000000L)
      next += 1
    }

  /** Id of the last span with this name and item, or -1. */
  def idOf(name: String, item: String): Int =
    done.findLast(s => s.name == name && s.item == item).map(_.id).getOrElse(-1)

  /** Self time per span name: the span's duration minus the time covered
    * by its children (concurrent children count once), over the spans of
    * the items `keep` accepts.
    */
  def selfMs(keep: String => Boolean = _ => true): Map[String, Double] = {
    val children = done.filter(_.parent >= 0).groupBy(_.parent)
    def covered(id: Int): Long = children.get(id).fold(0L) { cs =>
      val (total, _) = cs.map(c => (c.startNs, c.endNs)).sorted
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
        }
      total
    }
    done.filter(s => keep(s.item)).groupBy(_.name).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - covered(s.id)) / 1e6).sum).toMap
  }

  def toJson: String = done.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "item" -> s.item, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, item: String,
      startNs: Long, endNs: Long)

  val off = new Tracer(false)
}

/** Minimal JSON writer for flat and nested maps of numbers and strings. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case RawJson(s) => s
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class RawJson(s: String)
}

/** Gauges how fast the host's CPUs run at the moment, with fixed work
  * that does not touch the library: k threads each hash their way through
  * a 4 KB table (it stays in the L1 cache) in bursts of 2^22 steps, and
  * time each burst. `run.py` runs it in a JVM of its own before and after
  * each workload run. Prints the median burst time in milliseconds.
  * Args: <threads>
  */
object HostSpeed {
  private val Steps = 1 << 22
  private val Warm = 5
  private val Bursts = 15

  private def burst(table: Array[Long], seed: Long): Long = {
    val mask = table.length - 1
    var x = seed
    var s = 0
    while (s < Steps) {
      val i = (x >>> 33).toInt & mask
      x = RowHash.mix(x ^ table(i))
      table(i) = x
      s += 1
    }
    x
  }

  def main(argv: Array[String]): Unit = {
    val times = new ConcurrentLinkedQueue[Double]
    val sink = new java.util.concurrent.atomic.AtomicLong
    val threads = (0 until argv(0).toInt).map { t =>
      new Thread(() => {
        val table = Array.tabulate(1 << 9)(i => RowHash.mix(i.toLong + t))
        (0 until Warm + Bursts).foreach { b =>
          val t0 = System.nanoTime()
          sink.addAndGet(burst(table, b))
          if (b >= Warm) times.add((System.nanoTime() - t0) / 1e6)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    println(Exec.median(times.asScala.toSeq))
    if (sink.get == 42L) System.err.println("")
  }
}
