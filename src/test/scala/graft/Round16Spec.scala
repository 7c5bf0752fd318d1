package graft

/** Round-16 hardening gates (ADVICE r15 + VERDICT r15 #4). */
class Round16Spec extends SparkSpec {

  test("Bench.windowVerdictOf: the 0.90 masking bound is STRICT (ADVICE r15)") {
    import Bench.windowVerdictOf
    // the doc-comment's masking example (true contention 1.3x masked
    // by a 0.7x plan win) lands at median ~0.9 EXACTLY — inclusive
    // trust at the boundary would stamp that window clean
    assert(windowVerdictOf(1.05, 0.90) == "unknown")
    // just above the bound the drift gauge is trusted again
    assert(windowVerdictOf(1.05, 0.901) == "clean")
    assert(windowVerdictOf(1.05, 1.05) == "clean")
    assert(windowVerdictOf(1.05, 1.051) == "contended")
  }

  test("window_hunt keep rule requires the artifact's own clean verdict (ADVICE r15)") {
    // the dmed <= MAX_KEEP bound alone admits medians <= 0.9 that
    // windowVerdictOf classifies as 'unknown' (plan-win masking) — the
    // keep gate must also read the fired artifact's window_quality
    // verdict. Pin the script's gate line so a future edit dropping
    // the verdict check fails here rather than silently re-opening
    // the masked-window hole.
    val script = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/window_hunt.sh")), "UTF-8")
    assert(script.contains("""'$verdict' == 'clean'"""),
      "window_hunt.sh keep rule no longer requires verdict == clean")
    assert(script.contains("window_quality"),
      "window_hunt.sh no longer reads the artifact's window_quality block")
  }

  test("writeTaskCount: volume-derived, floored at 8, ceil semantics (ADVICE r15)") {
    import Queries.writeTaskCount
    val mb128 = 128L << 20
    // the sf-fixture regime (~40 MB input): floor holds — the write
    // shape stays byte-identical to the measured round-15 record
    assert(writeTaskCount(BigInt(40L << 20), mb128) == 8)
    assert(writeTaskCount(BigInt(0), mb128) == 8)
    // 1 TB at the 128 MB default target: 8192 write tasks, not 8 —
    // the ADVICE r15 scenario (a bigger SPARK_GRAFT_SF_DIR silently
    // serializing the whole write onto 8 tasks) can no longer happen
    assert(writeTaskCount(BigInt(1L << 40), mb128) == 8192)
    // ceil, not floor: 129 MB of input needs 2 target-sized files
    assert(writeTaskCount(BigInt(129L << 20), mb128) == math.max(8, 2))
    assert(writeTaskCount(BigInt(129L << 20), mb128) == 8) // still under the floor
    assert(writeTaskCount(BigInt(10L) * (1L << 30), 1L << 30) == 10)
    // runaway-conf cap only (never binds a real deployment)
    assert(writeTaskCount(BigInt(1L << 60), 1L) == (1 << 20))
    intercept[IllegalArgumentException](writeTaskCount(BigInt(1), 0L))
  }

  test("harness-session parity: Bench/Verify/AbQ all carry the HarnessConf confs (VERDICT r15 #4)") {
    // the values themselves: the 64 MB broadcast threshold (PERF.md
    // §1f) and the surface-sized codegen cache (§1g) — the two confs
    // whose silent loss would re-open a ~38 s/pass recompile tax or
    // A/B-measure plans the bench never runs
    val m = HarnessConf.common.toMap
    assert(m("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(m("spark.sql.autoBroadcastJoinThreshold") == "67108864")
    assert(m("spark.sql.session.timeZone") == "UTC")
    // the streaming Pipeline's per-batch cost: checkpoint commits and
    // local writes that start no process, and compiled classes reused
    // across query starts and micro-batches (HarnessConf scaladoc)
    assert(m("spark.sql.streaming.checkpointFileManagerClass") ==
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    assert(m("spark.hadoop.fs.file.impl") == "graft.io.NioLocalFileSystem")
    assert(m("spark.sql.artifact.isolation.enabled") == "false")
    assert(m("spark.sql.codegen.useIdInClassName") == "false")
    // and the structure: every harness entrypoint builds its session
    // THROUGH HarnessConf — no entrypoint re-declares the keys
    // locally, where one copy could drift from the others
    val entrypoints = Seq(
      "src/main/scala/graft/Bench.scala",
      "src/main/scala/graft/Verify.scala",
      "src/main/scala/graft/tools/AbQ.scala",
      "src/main/scala/graft/tools/TimeQ.scala",
      "src/main/scala/graft/tools/Plans.scala")
    entrypoints.foreach { p =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8")
      assert(src.contains("HarnessConf(SparkSession.builder()"),
        s"$p no longer builds its session through HarnessConf")
      HarnessConf.common.map(_._1).foreach { k =>
        assert(!src.contains("\"" + k + "\""),
          s"$p re-declares $k locally — parity can drift")
      }
    }
  }

  test("IntersectSize == size(array_intersect) on distinct-long arrays, and q125 is kernel-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions.intersect_size
    // property check over deterministic pseudo-random DISTINCT sets
    // (the ShingleHashes contract: both sides duplicate-free)
    val rng = new scala.util.Random(20260816L)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(rng.nextInt(300))(rng.nextInt(500).toLong).distinct
      val b = Seq.fill(rng.nextInt(300))(rng.nextInt(500).toLong).distinct
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("a", "b").select(
      intersect_size(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).as("s"))
    assert(df.filter(col("k") =!= col("s")).count() == 0)
    // and the whole q125 pipeline returns identical rows under both
    // kernel conf values (the gate only swaps the kernel, never the
    // answer) — set/unset around fresh plan builds
    def rowsOf(): Seq[String] =
      SparkEntry.queries("q125_prefix_similarity_join")(spark, sf)
        .collect().map(_.toString).toSeq
    val smRows = rowsOf() // default: sortmerge kernel
    spark.conf.set("spark.graft.verifyIntersect", "hash")
    try assert(rowsOf() == smRows, "kernel swap changed q125 results")
    finally spark.conf.unset("spark.graft.verifyIntersect")
    assert(smRows.nonEmpty)
  }

  test("prefixJaccardPairs bucket persist is registry-bounded: re-invocation adds at most one live cache entry") {
    // the round-16 bucket-stage persist rides Skew's LRU registry
    // (the chunkedSessionize lifecycle): repeated executions over the
    // SAME inputs share one canonical plan → one cache entry, never a
    // per-invocation leak (the ADVICE r13 hole class)
    val sc = spark.sparkContext
    def cachedN = sc.getRDDStorageInfo.length
    val posted = LshStages.dfPostings(spark, sf)
    val sets = LshStages.docShingleSets(spark, sf)
    graft.operators.Dedup
      .prefixJaccardPairs(posted, sets, tNum = 4, tDen = 5).count()
    val after1 = cachedN
    (1 to 3).foreach { _ =>
      graft.operators.Dedup
        .prefixJaccardPairs(posted, sets, tNum = 4, tDen = 5).count()
    }
    assert(cachedN == after1,
      s"repeat executions grew the cache: $after1 -> $cachedN")
  }

  test("writeVersion observe-based manifest stats equal a post-hoc read-back of the committed files") {
    // round 16: commit stats now ride the write job (Observation)
    // instead of a second read-back job per version. Pin the
    // equivalence the optimization rests on: the observed counts are
    // EXACTLY what a narrow aggregate over the committed files reads
    // — including the empty-commit n_chars=0 convention (r14).
    import org.apache.spark.sql.functions._
    import graft.operators.Snapshots
    val dir = java.nio.file.Files
      .createTempDirectory("r16-obs-manifest").toString
    val base = spark.range(0, 200)
      .selectExpr("id as doc_id", "concat('t', id) as text",
        "id % 97 as n_chars")
    val ms = (1 to 3).map(k => Snapshots.writeVersion(base, dir, k))
    ms.foreach { m =>
      val r = spark.read.parquet(s"$dir/v=${m.version}")
        .agg(count(lit(1)), coalesce(sum(col("n_chars")), lit(0L)))
        .collect()(0)
      assert(m.nDocs == r.getLong(0) && m.nChars == r.getLong(1),
        s"v=${m.version}: observed (${m.nDocs},${m.nChars}) != " +
          s"read-back (${r.getLong(0)},${r.getLong(1)})")
    }
  }

  test("window-carried lower median equals the rank-filter pick on every partition (q251/q255 rewrite)") {
    // round 16: q251's MAD scale and q255's four polish medians carry
    // the rank-picked median partition-wide via max(when(rn = (n+1)
    // div 2, v)) over the SAME partitioning, replacing the old
    // rank-filter + broadcast-join-back (which re-executed its input
    // branch per consumer). Pin value equivalence on a randomized
    // frame with duplicate values and singleton/even/odd partitions.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(20260819L)
    val rows = for (k <- 1 to 7; i <- 1 to (k * 3 - 2))
      yield (s"k$k", i, rng.nextInt(9).toLong)
    val df = rows.toDF("key", "tb", "v")
    val wAll = Window.partitionBy(col("key"))
    val carried = df
      .withColumn("rn", row_number().over(wAll.orderBy(col("v"), col("tb"))))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("med",
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("v")))
          .over(wAll))
      .select(col("key"), col("med")).distinct()
    val picked = df
      .withColumn("rn", row_number().over(wAll.orderBy(col("v"), col("tb"))))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("key"), col("v").as("med"))
    assert(carried.except(picked).count() == 0 &&
      picked.except(carried).count() == 0)
  }

  test("HarnessConf confs are builder-settable on a fresh session (static conf discipline)") {
    // spark.sql.codegen.cache.maxEntries is a STATIC SQL conf — it
    // only takes effect when set at builder time on the FIRST session
    // of the JVM, which is exactly where Bench/Verify/AbQ apply
    // HarnessConf. Runtime-setting it on the shared test session is
    // expected to be rejected; pin that so nobody "simplifies" the
    // harness entrypoints into spark.conf.set(...) after getOrCreate,
    // where the cache sizing would silently not apply.
    intercept[Exception] {
      spark.conf.set("spark.sql.codegen.cache.maxEntries", "8192")
    }
    // the broadcast threshold IS runtime-modifiable (AbQ relies on
    // that for its arms); assert the modifiability split explicitly
    assert(spark.conf.isModifiable("spark.sql.autoBroadcastJoinThreshold"))
    assert(!spark.conf.isModifiable("spark.sql.codegen.cache.maxEntries"))
  }

  test("HarnessConf artifact isolation takes effect only at builder time") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val key = "spark.sql.artifact.isolation.enabled"
    assert(HarnessConf.common.toMap.apply(key) == "false")
    // the class loader a task runs under; an isolated session has its own
    def loaderOf(df: DataFrame): Int = df.mapPartitions(_ =>
      Iterator(System.identityHashCode(Thread.currentThread.getContextClassLoader)))
      .collect().head
    def taskLoader(s: SparkSession): Int = loaderOf(s.range(1).toDF())
    // a stream runs in a clone of its session: the loader of its batches
    def streamLoader(s: SparkSession): Int = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]
      val in = MemoryStream[Int](s)
      val q = in.toDF().writeStream.foreachBatch { (df: DataFrame, _: Long) =>
        seen.add(loaderOf(df)); () }.start()
      try { in.addData(1); q.processAllAvailable() } finally q.stop()
      seen.peek()
    }
    // the shared test session is built without the conf: isolated
    val isolated = taskLoader(spark)
    assert(taskLoader(spark.newSession()) != isolated)
    // a runtime set leaves the session that is in use isolated
    spark.conf.set(key, "false")
    try assert(taskLoader(spark) == isolated)
    finally spark.conf.unset(key)
    // set in the builder, the session, its streams and its new sessions
    // share one loader, so their compiled classes are shared too
    val built = SparkSession.builder().config(key, "false").create()
    try {
      val shared = taskLoader(built)
      assert(shared != isolated)
      assert(streamLoader(built) == shared && streamLoader(built) == shared)
      assert(taskLoader(built.newSession()) == shared)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
