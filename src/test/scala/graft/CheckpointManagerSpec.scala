package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import jdk.jfr.consumer.RecordingStream
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import graft.streaming.Pipeline

/** The checkpoint manager and `file:` file system `HarnessConf` selects
  * (the FileSystem-based manager, which starts no `readlink` process
  * per commit, over `NioLocalFileSystem`, which starts no `chmod`) keep
  * the checkpoint guarantees: a `Pipeline` restarted part-way through
  * its input lands every lake and DLQ row exactly once and resumes its
  * state, on the default and on the RocksDB state store, and a
  * no-overwrite commit onto an existing offset file still fails. Such a
  * run and restart starts no operating-system process for its I/O.
  */
class CheckpointManagerSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The `file:` file system `impl` for the session's Hadoop confs. The
    * `spark.hadoop.` key of `HarnessConf` reaches Hadoop only from a
    * session builder, so here it goes in under its Hadoop name, with
    * the per-JVM `FileSystem` cache off: that cache already holds the
    * stock instance the shared session made.
    */
  private def withFileSystem[A](impl: String)(body: => A): A =
    withConf("fs.file.impl" -> impl, "fs.file.impl.disable.cache" -> "true")(body)

  private val HarnessFs = HarnessConf.common.toMap.apply("spark.hadoop.fs.file.impl")

  private def withHarnessManager[A](body: => A): A =
    withConf(Key -> HarnessConf.common.toMap.apply(Key))(withFileSystem(HarnessFs)(body))

  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val Files4 = 4
  private val spike = Seq.fill(19)(0.0) :+ 100.0 // |z| ≈ 4.36: invalid

  /** Four input files, 4 minutes of event time each, two machines. Id
    * 500 fails in file 1 and is redelivered 100 ms later in file 2,
    * before its 1 s backoff due time: the bounce needs the retry state
    * of file 1, so across a restart between files 1 and 2 it shows
    * whether that state survived.
    */
  private def writeInput(dir: String): Unit = (0 until Files4).foreach { f =>
    val rows = (0 until 16).map { i =>
      val id = f * 16 + i
      (id.toLong, new java.sql.Timestamp(T0 + id * 15000L),
        if (i % 2 == 0) "M01" else "M02", "Good",
        Seq(10.0 + id, 11.0 + id, 9.0 + id, 20.0 + 2 * id))
    }
    val bad = f match {
      case 1 => Seq((500L, new java.sql.Timestamp(T0 + 360000L), "M01", "Bad", spike))
      case 2 => Seq((500L, new java.sql.Timestamp(T0 + 360100L), "M01", "Bad", spike))
      case _ => Nil
    }
    (rows ++ bad).toDF("id", "ts", "machine", "status", "signal")
      .coalesce(1).write.parquet(s"$dir/staged/f$f")
  }

  /** Moves input file `f` into the source directory; its mtime orders
    * it for the file source.
    */
  private def release(dir: String, f: Int): Unit = {
    val part = Files.list(Paths.get(s"$dir/staged/f$f")).toArray.map(_.asInstanceOf[JPath])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    val to = Paths.get(s"$dir/src/f$f.parquet")
    Files.createDirectories(to.getParent)
    Files.move(part, to)
    Files.setLastModifiedTime(to, FileTime.fromMillis(T0 + f * 10000L))
  }

  private def runPipeline(dir: String, run: String): Unit = {
    val schema = spark.read.parquet(s"$dir/src").schema
    Pipeline.start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/src"),
      s"$dir/$run/lake", s"$dir/$run/features", s"$dir/$run/dlq",
      s"$dir/$run/cp").awaitAll()
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A run over the first two files, restarted on the same checkpoint
    * for the other two; returns the working directory.
    */
  private def runAndRestart(): String = {
    val dir = Files.createTempDirectory("graft_ckpt_mgr_").toString
    writeInput(dir)
    (0 until 2).foreach(release(dir, _))
    runPipeline(dir, "restarted")
    (2 until Files4).foreach(release(dir, _))
    runPipeline(dir, "restarted")
    dir
  }

  /** The restarted run against a reference run over all four files. */
  private def restartSoak(): Unit = {
    val dir = runAndRestart()
    runPipeline(dir, "reference")

    val lakeIds = spark.read.parquet(s"$dir/restarted/lake").select($"id")
      .as[Long].collect().toSeq
    val expectedIds = (0L until Files4 * 16L) ++ Seq(500L, 500L)
    assert(lakeIds.sorted == expectedIds.sorted, "every lake row exactly once")

    val dlq = spark.read.parquet(s"$dir/restarted/dlq")
    val routed = dlq.select($"id", $"route", $"error_count", $"last_error_millis")
      .as[(Long, String, Int, Long)].collect().toSeq
    // the redelivery after the restart bounced against the restored
    // backoff state: first failure + 1 s is its due time
    assert(routed == Seq((500L, "retry", 1, T0 + 360000L + 1000L)), s"dlq rows: $routed")
    assert(sorted(dlq) == sorted(spark.read.parquet(s"$dir/reference/dlq")))

    val feats = spark.read.parquet(s"$dir/restarted/features")
    assert(feats.count() > 0)
    assert(sorted(feats) == sorted(spark.read.parquet(s"$dir/reference/features")),
      "restarted feature rows == unrestarted run")
  }

  test("Pipeline restarted part-way through its input lands lake and DLQ rows exactly once (HarnessConf manager)") {
    withHarnessManager(restartSoak())
  }

  test("the same restart on the RocksDB state store under the HarnessConf manager") {
    withHarnessManager(withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(restartSoak()))
  }

  test("no-overwrite createAtomic onto an existing offset file fails on close and leaves the file") {
    withHarnessManager {
      val dir = Files.createTempDirectory("graft_ckpt_atomic_").toString
      writeInput(dir)
      release(dir, 0)
      runPipeline(dir, "run")
      val offsets = new Path(s"$dir/run/cp/lake/offsets")
      val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      val fm = CheckpointFileManager.create(offsets, hadoopConf)
      assert(fm.getClass.getName == HarnessConf.common.toMap.apply(Key))
      val first = Paths.get(s"$dir/run/cp/lake/offsets/0")
      val before = Files.readAllBytes(first)
      val out = fm.createAtomic(new Path(offsets, "0"), overwriteIfPossible = false)
      out.write("v1\n{}\n".getBytes("UTF-8"))
      intercept[FileAlreadyExistsException](out.close())
      assert(Files.readAllBytes(first).sameElements(before), "offset file was overwritten")
    }
  }

  test("a Pipeline run and restart under the HarnessConf file system starts no process for its I/O") {
    val stock = withConf(Key -> HarnessConf.common.toMap.apply(Key))(
      withFileSystem(classOf[LocalFileSystem].getName)(processStarts(runAndRestart())))
    assert(stock.exists(s => s.fromHadoop && s.command.startsWith("chmod")),
      s"the probe sees the stock file system's chmod processes: ${stock.take(3)}")
    val nio = withHarnessManager(processStarts(runAndRestart()))
    // the shared test session keeps artifact isolation on (a HarnessConf
    // session turns it off), so Spark deletes each stream's session
    // artifact directory with `rm -rf`, and unloads the state stores of
    // earlier RocksDB runs the same way; neither comes from a write
    assert(nio.filterNot(_.sparkTempDelete).isEmpty,
      s"${nio.size} processes started: ${nio.filterNot(_.sparkTempDelete).take(3)}")
  }

  /** Processes this JVM starts during `body`, from JFR's
    * `jdk.ProcessStart` events.
    */
  private def processStarts(body: => Unit): Seq[CheckpointManagerSpec.Spawn] = {
    val spawns = new ConcurrentLinkedQueue[CheckpointManagerSpec.Spawn]
    val drained = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[CheckpointManagerSpec.Drained]).withoutStackTrace()
      rs.onEvent("jdk.ProcessStart", e => spawns.add(CheckpointManagerSpec.Spawn(
        e.getString("command"),
        e.getStackTrace.getFrames.asScala.map(_.getMethod.getType.getName).toSeq)))
      rs.onEvent(classOf[CheckpointManagerSpec.Drained].getName, _ => drained.countDown())
      rs.startAsync()
      body
      // the stream delivers events in time order: once this marker is
      // seen, every process start before it has been too
      new CheckpointManagerSpec.Drained().commit()
      assert(drained.await(60, TimeUnit.SECONDS), "JFR stream delivered no marker")
    } finally rs.close()
    spawns.asScala.toSeq
  }
}

object CheckpointManagerSpec {
  /** Marks the end of a `processStarts` window in the JFR stream. */
  class Drained extends jdk.jfr.Event

  /** A process start: its command line and the classes on its stack. */
  case class Spawn(command: String, callers: Seq[String]) {
    def fromHadoop: Boolean = callers.exists(_.startsWith("org.apache.hadoop."))
    /** Spark's recursive delete of one of its own temp directories. */
    def sparkTempDelete: Boolean = command.startsWith("rm -rf ") &&
      callers.contains("org.apache.spark.network.util.JavaUtils")
  }
}
