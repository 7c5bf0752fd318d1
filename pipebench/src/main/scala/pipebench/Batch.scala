package pipebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{LshStages, SparkEntry, Tables, TokenStages}
import graft.functions.{Linkage, SketchAggregates, Text, VectorExpressions}

/** Row count plus two order-insensitive 64-bit folds (xor and sum) of
  * per-row hashes over every column.
  */
final case class Digest(rows: Long, xor: Long, sum: Long) {
  def merge(o: Digest): Digest = Digest(rows + o.rows, xor ^ o.xor, sum + o.sum)
  override def toString: String = f"$rows:$xor%016x:$sum%016x"
}

/** Hashes rows of one schema. Integral types hash as their value, so a
  * result read back from parquet digests the same as the result itself;
  * doubles keep 32 of their 52 mantissa bits (about 9.6 significant
  * digits), because the last bits of a floating-point sum depend on the
  * order shuffle blocks arrive in.
  */
final class RowHash(types: Array[DataType]) extends Serializable {
  import RowHash._

  def fold(it: Iterator[InternalRow]): Digest = {
    var n, x, s = 0L
    while (it.hasNext) {
      val h = row(it.next(), types)
      n += 1; x ^= h; s += mix(h ^ 0x2545f4914f6cdd1dL)
    }
    Digest(n, x, s)
  }

  private def row(r: SpecializedGetters, ts: Array[DataType]): Long = {
    var h = 0x6a09e667f3bcc909L
    var i = 0
    while (i < ts.length) { h = mix(h * Golden + value(r, i, ts(i))); i += 1 }
    h
  }

  private def value(v: SpecializedGetters, i: Int, t: DataType): Long =
    if (v.isNullAt(i)) NullHash
    else t match {
      case BooleanType => if (v.getBoolean(i)) 1L else 2L
      case ByteType => v.getByte(i).toLong
      case ShortType => v.getShort(i).toLong
      case IntegerType | DateType => v.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => v.getLong(i)
      case FloatType => double(v.getFloat(i).toDouble)
      case DoubleType => double(v.getDouble(i))
      case d: DecimalType =>
        v.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
      case _: StringType => v.getUTF8String(i).toString.hashCode.toLong
      case BinaryType => java.util.Arrays.hashCode(v.getBinary(i)).toLong
      case st: StructType => row(v.getStruct(i, st.size), st.fields.map(_.dataType))
      case at: ArrayType =>
        val a = v.getArray(i)
        var h = a.numElements().toLong
        var j = 0
        while (j < a.numElements()) { h = mix(h * Golden + value(a, j, at.elementType)); j += 1 }
        h
      case mt: MapType =>
        val m = v.getMap(i)
        var h = m.numElements().toLong
        var j = 0
        while (j < m.numElements()) {
          h += mix(value(m.keyArray(), j, mt.keyType) * Golden + value(m.valueArray(), j, mt.valueType))
          j += 1
        }
        h
      case other => v.get(i, other).toString.hashCode.toLong
    }
}

object RowHash {
  private val Golden = 0x9e3779b97f4a7c15L
  private val NullHash = 0x5bd1e9955bd1e995L

  def mix(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def double(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN) 0x7ff8000000000000L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)
}

/** Full consumption of query results. */
object Exec {
  /** Plans `df`, runs its physical plan as is (top-level sorts and limits
    * included) and hashes every column of every row into a [[Digest]].
    */
  def consume(df: DataFrame, tr: Tracer, item: String): Digest = {
    val qe = df.queryExecution
    val plan = tr.span("plan", item)(qe.executedPlan)
    val hash = new RowHash(plan.schema.fields.map(_.dataType))
    tr.span("exec", item)(SQLExecution.withNewExecutionId(qe, Some("pipebench")) {
      plan.execute().mapPartitions(it => Iterator(hash.fold(it)))
        .collect().foldLeft(Digest(0L, 0L, 0L))(_ merge _)
    })
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1); val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Median over `reps` of (kernel time - baseline time) / rows, in ns. */
  def nsPerRow(rows: Long, reps: Int, tr: Tracer, name: String)(
      kernel: => DataFrame, baseline: => DataFrame): Double = {
    def time(df: => DataFrame, label: String): Long = tr.span(label, name) {
      val t0 = System.nanoTime(); consume(df, tr, name); System.nanoTime() - t0
    }
    val nets = (0 until reps).map { _ =>
      (time(kernel, "kernel") - time(baseline, "baseline")).toDouble
    }
    val ns = median(nets) / math.max(rows, 1L)
    say(f"$name: $ns%.1f ns per row")
    ns
  }
}

/** The `warehouse` workload: a committed list of `SparkEntry.queries`,
  * run at sf0.1 in a seeded order. A traced run also measures the
  * corpus-side layers (session stage caches and codegen kernels) on the
  * documents and embeddings tables.
  */
object Batch {
  import Exec._

  final case class Item(name: String, run: (SparkSession, String) => DataFrame)

  def run(spark: SparkSession, a: Args, tr: Tracer, counts: Counts): Outcome = {
    val names = readLines(a.items)
    val all = SparkEntry.queries
    val items = names.map(n => Item(n, all.getOrElse(n,
      sys.error(s"query $n is not in SparkEntry.queries"))))
    val expected = if (a.record.isEmpty) readLines(a.expected).map { l =>
      val Array(n, d) = l.split("\t"); n -> d }.toMap else Map.empty[String, String]
    val sfSmall = s"${a.data}/sf0.001"; val sf = s"${a.data}/sf0.1"
    val sc = spark.sparkContext
    val failed = mutable.LinkedHashSet.empty[String]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def fail(n: String, e: Throwable): Unit = {
      System.err.println(s"[pipebench] $n failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      failed += n
    }

    if (tr.on) {
      // first calls in the process: the session caches are still empty
      layer("LshStages.cold_ms") =
        Seq[(SparkSession, String) => DataFrame](LshStages.candidatePairs,
          LshStages.clusters, LshStages.windowFps, LshStages.docShingleSets,
          LshStages.dfPostings, LshStages.ngramStats)
          .map(f => timedMs(tr, "LshStages")(consume(f(spark, sf), tr, "LshStages"))).sum
      layer("TokenStages.cold_ms") =
        Seq[(SparkSession, String) => DataFrame](TokenStages.docToks, TokenStages.bigramOcc)
          .map(f => timedMs(tr, "TokenStages")(consume(f(spark, sf), tr, "TokenStages"))).sum
      layer("Tables.events_normalize_ms") = {
        // a directory that holds only a copy of events.parquet, so the
        // first Tables.events call on it runs the one-time rewrite
        val fresh = new java.io.File(s"${a.work}/events_copy")
        fresh.mkdirs()
        java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
          new java.io.File(fresh, "events.parquet").toPath)
        timedMs(tr, "Tables.events")(Tables.events(spark, fresh.getPath).schema)
      }
    }

    // every execution of an item, set-up and timed, is checked against
    // its expected digest; --corrupt alters the first item's expectation
    val want = if (a.corrupt) expected.updatedWith(items.head.name)(_.map("corrupted:" + _))
      else expected
    val recorded = mutable.LinkedHashMap.empty[String, String]
    def check(it: Item, d: Digest): Unit =
      if (a.record.nonEmpty) recorded(it.name) = d.toString
      else if (!want.get(it.name).contains(d.toString)) {
        if (!failed(it.name)) System.err.println(
          s"[pipebench] ${it.name} digest $d, expected ${want.getOrElse(it.name, "none")}")
        failed += it.name
      }

    say(s"${items.size} items; set-up starts")
    // set-up: the events tables are normalized; each query runs once at
    // sf0.001, k queries at a time, which compiles its code paths; then
    // once at sf0.1, one query at a time
    sc.setLocalProperty(Counts.ItemKey, "setup")
    Seq(sfSmall, sf).foreach(d => Tables.events(spark, d))
    def setup(it: Item, dir: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val d = consume(it.run(spark, dir), Tracer.off, it.name)
        if (dir == sf) synchronized(check(it, d))
      } catch { case e: Throwable => synchronized(fail(it.name, e)) }
      say(f"set-up ${it.name} at ${dir.split('/').last}: ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sc.defaultParallelism)
    try items.map(it => pool.submit[Unit](() => setup(it, sfSmall))).foreach(_.get())
    finally pool.shutdown()
    items.foreach(setup(_, sf))
    sc.setLocalProperty(Counts.ItemKey, null)
    a.record.foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        recorded.map { case (n, d) => s"$n\t$d" }.mkString("", "\n", "\n"))
    }
    say("set-up done")

    // timed region: a fixed number of passes, each in its own seeded
    // order. A traced run alternates untraced and traced passes
    // (untraced first), so the tracing overhead is measured in the same
    // process and window.
    val firstTimedMs = System.currentTimeMillis()
    val passes = if (tr.on) math.max(2, a.reps) else a.reps
    val untracedPasses = (0 until passes).count(p => !(tr.on && p % 2 == 1))
    val times = Map(false -> mutable.Map.empty[String, mutable.ArrayBuffer[Double]],
      true -> mutable.Map.empty[String, mutable.ArrayBuffer[Double]])
    val cpu0 = Proc.cpuNs
    var gcTraced = 0L
    var untracedCpuNs = 0L
    (0 until passes).foreach { p =>
      val traced = tr.on && p % 2 == 1
      val ptr = if (traced) tr else Tracer.off
      if (traced) sc.addSparkListener(counts)
      val gc0 = Proc.gcMs; val c0 = Proc.cpuNs
      val order = new scala.util.Random(a.seed * 1000L + p).shuffle(items)
      order.foreach { it =>
        sc.setLocalProperty(Counts.ItemKey, it.name)
        val t0 = System.nanoTime()
        val d = try Some(ptr.span("item", it.name) {
          val df = ptr.span("SparkEntry.build", it.name)(it.run(spark, sf))
          consume(df, ptr, it.name)
        }) catch { case e: Throwable => fail(it.name, e); None }
        times(traced).getOrElseUpdate(it.name, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
        d.foreach(check(it, _))
      }
      sc.setLocalProperty(Counts.ItemKey, null)
      say(s"pass $p done (traced=$traced)")
      if (traced) {
        counts.drain(spark)
        sc.removeSparkListener(counts)
        gcTraced += Proc.gcMs - gc0
      } else untracedCpuNs += Proc.cpuNs - c0
    }
    val cpuNs = if (tr.on) untracedCpuNs else Proc.cpuNs - cpu0

    def latencies(m: mutable.Map[String, mutable.ArrayBuffer[Double]]): Seq[Double] = {
      val med = items.map(it => it.name -> median(m(it.name).toSeq)).toMap
      // a failed item never reads faster than the slowest item
      val worst = med.values.max
      items.map(it => if (failed(it.name)) math.max(med(it.name), worst) else med(it.name))
    }
    val lat = latencies(times(false))
    val ok = items.size - failed.size
    val e2e = Map(
      "items_per_s" -> ok / (lat.sum / 1000.0),
      "op_p50_ms" -> pct(lat, 0.5),
      "op_p90_ms" -> pct(lat, 0.9),
      "cpu_ms_per_item" -> cpuNs / 1e6 / (items.size * untracedPasses))

    if (tr.on) {
      val k = sc.defaultParallelism
      val tp = (passes - untracedPasses).toDouble
      val latT = latencies(times(true))
      val self = tr.selfMs(items.map(_.name).toSet)
      val acc = new ExecAcc
      items.foreach(it => acc += counts.get(it.name))
      val execMs = self.getOrElse("exec", 0.0)
      layer("SparkEntry.build_ms") = self.getOrElse("SparkEntry.build", 0.0) / tp
      layer("catalyst.plan_ms") = self.getOrElse("plan", 0.0) / tp
      layer("exec.ms") = execMs / tp
      layer("exec.jobs") = acc.jobs / tp
      layer("exec.stages") = acc.stages / tp
      layer("exec.tasks") = acc.tasks / tp
      layer("exec.sched_delay_ms") = acc.schedMs / tp
      layer("exec.cpu_ms") = acc.cpuNs / 1e6 / tp
      layer("exec.cpu_util") = if (execMs > 0) acc.cpuNs / 1e6 / (execMs * k) else 0.0
      layer("exec.gc_ms") = gcTraced / tp
      layer("exec.shuffle_bytes") = acc.shuffleBytes / tp
      layer("exec.spill_bytes") = acc.spillBytes / tp
      layer("Tables.scan_ms") =
        Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
          Tables.customer, Tables.supplier, Tables.part, Tables.orders,
          Tables.lineitem, Tables.events)
          .map(f => timedMs(tr, "Tables.scan")(consume(f(spark, sf), tr, "Tables"))).sum
      layer("SessionCache.cached_mb") = sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      layer ++= corpusKernels(spark, sf, tr)
      layer("trace.overhead_ms") = pct(latT, 0.5) - pct(lat, 0.5)
      a.traceOut.foreach { path =>
        val perItem = items.map { it =>
          val c = counts.get(it.name)
          it.name -> Map("untraced_ms" -> median(times(false)(it.name).toSeq),
            "traced_ms" -> median(times(true)(it.name).toSeq),
            "jobs" -> c.jobs / tp, "stages" -> c.stages / tp, "tasks" -> c.tasks / tp,
            "executor_cpu_ms" -> c.cpuNs / 1e6 / tp, "sched_delay_ms" -> c.schedMs / tp,
            "shuffle_bytes" -> c.shuffleBytes / tp, "spill_bytes" -> c.spillBytes / tp)
        }.toMap
        Outcome.writeTrace(path, tr, Map("self_ms" -> self, "items" -> perItem))
      }
    }
    Outcome(items.size, failed.size, e2e, layer.toMap, firstTimedMs,
      Map("items" -> items.size, "item_list_sha256" -> Proc.sha256(names.mkString("\n")),
        "passes" -> passes, "op_samples" -> lat.size,
        "item_ms" -> items.map(_.name).zip(lat).toMap,
        "failed_items" -> failed.toSeq.sorted))
  }

  private def timedMs[T](tr: Tracer, name: String)(body: => T): Double = {
    val t0 = System.nanoTime()
    tr.span(name, name)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    say(f"$name: $ms%.0f ms")
    ms
  }

  /** The text, vector, linkage and sketch kernels on the corpus tables. */
  private def corpusKernels(spark: SparkSession, sf: String, tr: Tracer): Map[String, Double] = {
    val reps = 3
    // the tables repeated, so each timed kernel call runs well above the
    // per-query floor
    def times(df: DataFrame, n: Int) = df.crossJoin(spark.range(n).toDF("copy"))
    val docs = times(Tables.documents(spark, sf).select("doc_id", "text"), 4).cache()
    docs.count()
    // shingles and minhash cost tenths of a millisecond and more per
    // document: they run on a slice of the documents
    val few = docs.filter(col("copy") === 0 && col("doc_id") < 1000).cache()
    val nFew = few.count()
    // cached only after the shingles kernel has run, which would
    // otherwise read this cache
    lazy val sh = {
      val d = few.select(Text.shingles(col("text"), 3).as("sh")).cache()
      d.count(); d
    }
    val emb = times(Tables.embeddings(spark, sf).select("embedding"), 10).cache()
    val nEmb = emb.count()
    val pairs = docs.as("l").join(docs.as("r"), col("r.doc_id") === col("l.doc_id") + 1 &&
      col("r.copy") === col("l.copy"))
      .select(substring(col("l.text"), 1, 40).as("a"), substring(col("r.text"), 1, 40).as("b"))
      .cache()
    val nPairs = pairs.count()
    val toks = docs.select(explode(split(col("text"), " ")).as("w")).cache()
    val nToks = toks.count()
    val out = Map(
      "VectorExpressions.dot.ns_per_row" -> nsPerRow(nEmb, reps, tr, "VectorExpressions.dot")(
        emb.select(VectorExpressions.dot(col("embedding"), col("embedding"))),
        emb.select(size(col("embedding")))),
      "Text.shingles.ns_per_row" -> nsPerRow(nFew, reps, tr, "Text.shingles")(
        few.select(Text.shingles(col("text"), 3)), few.select(length(col("text")))),
      "Text.minhash.ns_per_row" -> nsPerRow(nFew, reps, tr, "Text.minhash")(
        sh.select(Text.minhashSignature(col("sh"), 8)), sh.select(size(col("sh")))),
      "Linkage.jaro_winkler.ns_per_pair" -> nsPerRow(nPairs, reps, tr, "Linkage.jaro_winkler")(
        pairs.select(Linkage.jaro_winkler(col("a"), col("b"))),
        pairs.select(length(col("a")) + length(col("b")))),
      "SketchAggregates.hll.ns_per_row" -> nsPerRow(nToks, reps, tr, "SketchAggregates.hll")(
        toks.agg(SketchAggregates.hll_estimate(col("w"), 12)), toks.agg(count(col("w")))))
    Seq(docs, few, sh, emb, pairs, toks).foreach(_.unpersist())
    out
  }

  def readLines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
}
