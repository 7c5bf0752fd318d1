package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the sf dir in
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A warmup pass at
  * sf0.001 first-runs every plan (JIT + codegen + parquet footer
  * caches) so the timed pass measures steady-state execution, not
  * first-query JVM warmup.
  */
object Bench {

  /** Window self-verdict from the two run-quality signals (ADVICE
    * r14): `clean` requires the best two pass totals within 10% AND a
    * drift median vs the committed record inside [0.9, 1.05]. The
    * LOWER bound is the masking guard — immediately after a genuine
    * plan speedup the drift median drops well below 1, so a contended
    * window (true contention 1.3× masked by a 0.7× plan win → median
    * ~0.9) could otherwise stamp itself `clean`; a median ≤ 0.9 means
    * the record no longer describes this code and the drift gauge is
    * unreliable either way → `unknown` until the record is
    * re-baselined. The bound is STRICT at 0.90 (ADVICE r15): the
    * doc example's masked window lands at exactly ~0.9, so 0.90
    * inclusive must read `unknown`, not `clean`. Either signal
    * missing → `unknown`.
    */
  private[graft] def windowVerdictOf(spreadB2: Double, driftMedian: Double): String =
    if (spreadB2 < 0 || driftMedian < 0) "unknown"
    else if (driftMedian <= 0.9) "unknown"
    else if (spreadB2 < 1.10 && driftMedian <= 1.05) "clean"
    else "contended"

  /** Fixed-point decimal for the JSON artifacts. `Locale.ROOT`, not the
    * JVM default: under a comma-decimal default (de_DE, fr_FR) the `f`
    * interpolator writes `0,12345`, which is not JSON.
    */
  private[graft] def fixed(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  private[graft] def fixedArray(vs: Seq[Double], digits: Int): String =
    vs.map(fixed(_, digits)).mkString("[", ",", "]")

  private def pct(sorted: Seq[Double], q: Double): Double =
    sorted((q * (sorted.size - 1)).round.toInt)

  /** The drift object of PERF_QUERIES.json: this run's per-query mins
    * over the previous record's, ascending; "null" under 20 shared.
    */
  private[graft] def driftJson(ratios: Seq[(String, Double)], prevTotal: String,
      prevMtime: String): String =
    if (ratios.size < 20) "null" else {
      val rs = ratios.map(_._2)
      val edges = Seq(0.0, 0.5, 0.8, 0.9, 1.0, 1.1, 1.25, 1.5, 2.0)
      val counts = edges.zip(edges.drop(1) :+ Double.MaxValue).map {
        case (lo, hi) => rs.count(r => r >= lo && r < hi) }
      val worst = ratios.takeRight(5).reverse.map { case (n, r) =>
        s"""{"q": "$n", "ratio": ${fixed(r, 3)}}""" }.mkString("[", ",", "]")
      s"""{"n_shared": ${rs.size}, "median": ${fixed(pct(rs, 0.5), 3)},
    "p10": ${fixed(pct(rs, 0.1), 3)}, "p90": ${fixed(pct(rs, 0.9), 3)},
    "prev_total_min_per_query_s": $prevTotal, "prev_file_mtime": "$prevMtime",
    "hist_edges": ${edges.mkString("[", ",", "]")},
    "hist_counts": ${counts.mkString("[", ",", "]")},
    "worst": $worst}"""
    }

  /** The one JSON line on stdout. Per-query seconds are rounded to 5
    * decimals (10 µs — far under the ~50 ms scheduling floor of any
    * query here): full-precision doubles once pushed this line past the
    * stdout tail a reader keeps, truncating it mid-line (VERDICT r16
    * #2). PERF_QUERIES.json keeps full precision.
    */
  private[graft] def summaryLine(total: Double, results: Seq[(String, Double)],
      failed: Seq[String], passTotals: Seq[Double], passLoads: Seq[Double],
      secPerQuery: Double, gate: String, sfDir: String): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fixed(v, 5) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"pass_totals":${passTotals.mkString("[", ",", "]")},"pass_loadavg":${fixedArray(passLoads, 2)},"n_queries":${results.size},"sec_per_query":$secPerQuery,"gate":${gate.replaceAll("\n\\s*", " ")},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // harness-session parity (VERDICT r15 #4): the shared broadcast
    // threshold + surface-sized codegen cache live in HarnessConf —
    // Bench/Verify/AbQ must measure, dump, and A/B the SAME plans
    val builder = HarnessConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
    // Builder-side A/B aid: SPARK_GRAFT_CONF="k=v;k=v" overlays extra
    // session confs for config experiments. The driver never sets it.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Builder-side iteration aid (mirrors Verify): SPARK_GRAFT_ONLY
    // restricts the timed set. The driver never sets it → full suite,
    // and a restricted run never overwrites the committed record
    // (PERF_QUERIES.json write is skipped below).
    // blank prefixes dropped (ADVICE r10): SPARK_GRAFT_ONLY='' must
    // behave like unset — Set("") would match every query via
    // startsWith while only.isDefined still skipped the record write
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // warmup at the smallest sf (exercises every codegen path cheaply)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    // one untimed pass at the TARGET sf: faults the target parquet
    // into the page cache and materializes the shared stages
    // (LshStages, co-order edges) so all three timed passes measure
    // steady-state execution — without this, pass 1 alone carried the
    // one-time costs and the pass spread read as host contention.
    // Round 17 (VERDICT r16 #4): this warm pass is now TIMED per query
    // (methodology of the timed passes unchanged — these numbers never
    // enter the one-line JSON totals). The warm-pass duration is the
    // COLD cost: first execution at the target sf, shared stages and
    // persisted buckets not yet materialized — recorded per query in
    // PERF_QUERIES.json as "cold" so persist-backed wins (the
    // q125/q102 class) stay distinguishable from steady-state
    // cache-warm reads.
    val coldTimes: Map[String, Double] = names.map { n =>
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      n -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
    // timed passes, min per query: steady-state time, robust to
    // one-off GC/compilation pauses AND to a whole pass landing on a
    // loaded-host window (BENCH_r04 recorded 1.7× on bit-identical
    // code from exactly that). Per-pass totals are emitted alongside
    // so the artifact carries its own noise evidence: a spread ≫ the
    // min flags host contention, not a plan regression.
    def pass(): Map[String, Double] = names.map { name =>
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      // failures report -1 so a broken query can never look fast
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
    // host-load self-defense (VERDICT r11 #4): snapshot /proc/loadavg
    // around each pass so a red gate recorded on a loaded host is
    // machine-readable from the artifact, not inferable only from
    // pass spreads. 1-min load ≈ 32 (the worker count) is this bench
    // alone; sustained ≫ 32 means co-tenants were competing. NOTE
    // (round 13): the namespaced loadavg is BLIND to co-tenant load —
    // it is recorded as context, never used for the window verdict;
    // the pass spread and drift median below are the real signals.
    def loadavg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // ADAPTIVE pass count (VERDICT r13 #2): the r13 driver artifact
    // burned 22 minutes recording a loadavg-6 window whose number
    // everyone then had to argue around. Instead of hoping a fixed 4
    // passes straddle a quiet window, keep drawing passes (min 4, up
    // to SPARK_GRAFT_PASSES, default 8) until the best two pass
    // totals agree within 10% — two independent draws landing that
    // close means the per-query mins are near the window's floor.
    // A contended window that never converges still stops at the
    // budget and self-flags via window_quality below.
    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "8").toInt
    val minPasses = math.min(4, maxPasses)
    // the previous committed record's per-query mins, loaded up front:
    // the adaptive loop below uses them as an ABSOLUTE window gauge
    // (the best-two spread alone converges happily on two equally
    // contended passes — seen twice in round 14's discarded draws)
    val prevRecord: (Map[String, Double], String, String) = try {
      val prevPath = java.nio.file.Paths.get("PERF_QUERIES.json")
      val prev = new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
      val prevMtime = java.nio.file.Files.getLastModifiedTime(prevPath)
        .toInstant.toString
      val prevTotal = """"total_min_per_query_s":\s*([0-9.Ee+-]+)""".r
        .findFirstMatchIn(prev).map(_.group(1)).getOrElse("null")
      val entry = """"(q[^"]+)":\s*\{"min":\s*([0-9.Ee+-]+)""".r
      (entry.findAllMatchIn(prev)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap, prevTotal, prevMtime)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] no previous record readable: $e")
      (Map.empty[String, Double], "null", "null")
    }
    val prevMins = prevRecord._1
    val passLoads = scala.collection.mutable.ArrayBuffer[Double](loadavg())
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    def totalOf(p: Map[String, Double]): Double =
      if (p.values.exists(_ < 0)) -1.0 else p.values.sum
    def bestTwoSpread: Double = {
      val ts = passes.map(totalOf).filter(_ > 0).sorted
      if (ts.size < 2) Double.MaxValue else ts(1) / ts(0)
    }
    // running drift median of the per-query mins so far vs the
    // committed record; -1 when no record / too few shared queries
    // (then the spread criterion alone decides)
    def runningDriftMedian(): Double = {
      val rs = names.flatMap { n =>
        val ok = passes.flatMap(p => p.get(n)).filter(_ >= 0)
        if (ok.isEmpty) None
        else prevMins.get(n).collect { case p if p > 0.03 => ok.min / p }
      }.sorted
      if (rs.size < 20) -1.0 else rs(rs.size / 2)
    }
    // wall-clock budget for the timed passes ("or the budget is
    // spent"): a fully contended window must not turn 8 passes into
    // an hour-long artifact
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toInt
    val t0 = System.nanoTime()
    def budgetLeft: Boolean = (System.nanoTime() - t0) / 1e9 < budgetS
    while (passes.size < minPasses ||
        (passes.size < maxPasses && budgetLeft &&
          (bestTwoSpread >= 1.10 || runningDriftMedian() >= 1.15))) {
      passes += pass(); passLoads += loadavg()
    }
    // nPasses+1 samples: before pass 1, then after each pass (the 1-min
    // EMA lags, so the after-pass reading is the one that reflects it)
    val loadsJson = fixedArray(passLoads.toSeq, 2)
    // min over SUCCESSFUL passes; -1 only if all failed, and failures
    // never deflate the summed total
    val results = names.map { n =>
      val ok = passes.map(_(n)).filter(_ >= 0)
      n -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val failed = results.filter(_._2 < 0).map(_._1)
    // any failure makes the headline total unmissably broken (-1)
    // rather than silently smaller
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val passTotals = passes.map(totalOf).mkString("[", ",", "]")
    val n = names.size
    val secPerQuery = if (n > 0 && total >= 0) total / n else -1.0

    // Drift self-defense (VERDICT r10 #7): compare this run's
    // per-query mins against the PREVIOUS committed record. A uniform
    // ratio distribution (tight histogram around a common median) is
    // host drift; a long tail of isolated large ratios is a plan
    // regression. The histogram makes the two machine-distinguishable
    // inside the artifact itself.
    // The comparison target is the WORKING-TREE PERF_QUERIES.json —
    // which a prior run in this checkout may itself have written
    // (ADVICE r11). The drift object therefore records the previous
    // file's own total and mtime, so the artifact identifies what it
    // was compared against instead of implying "the committed record".
    var driftMedian: Double = -1.0
    val drift = try {
      val ratios = names.flatMap { nm =>
        val now = results.toMap.apply(nm)
        prevMins.get(nm).collect {
          case p if p > 0.03 && now > 0 => nm -> now / p
        }
      }.sortBy(_._2)
      if (ratios.size >= 20) driftMedian = pct(ratios.map(_._2), 0.5)
      driftJson(ratios, prevRecord._2, prevRecord._3)
    } catch { case e: Throwable =>
      // a nulled drift must say WHY, not swallow the cause (ADVICE r11)
      System.err.println(s"[bench] drift computation failed: $e")
      "null"
    }

    // Gate block with window self-verdict (VERDICT r13 #2): the raw
    // ratio is what the gate grades; the window-adjusted ratio
    // deflates it by the drift median WHEN the shared per-query tail
    // ran uniformly slower than the record (median > 1 → this window
    // was leaner than the recording window). The adjustment only ever
    // divides by max(1, median): a fast window never inflates the
    // claim. window_quality carries the machine-readable verdict —
    // see windowVerdictOf above for the clean/contended/unknown rule
    // (including the median-<0.9 masking guard, ADVICE r14).
    val rawRatio = if (total >= 0) total / 54.5 else -1.0
    val spreadB2 = { val s = bestTwoSpread
      if (s == Double.MaxValue) -1.0 else s }
    val adjRatio =
      if (rawRatio < 0) -1.0
      else if (driftMedian > 1.0) rawRatio / driftMedian else rawRatio
    val windowVerdict = windowVerdictOf(spreadB2, driftMedian)
    val windowQuality =
      s"""{"passes_run": ${passes.size}, "max_passes": $maxPasses,
    "best_two_pass_spread": $spreadB2, "pass_loadavg": $loadsJson,
    "drift_median_vs_record": $driftMedian, "verdict": "$windowVerdict"}"""
    val gate =
      s"""{"baseline_total_s": 54.5, "baseline_n_queries": 47, "baseline_sec_per_query": 1.16,
    "this_total_s": $total, "this_n_queries": $n, "this_sec_per_query": $secPerQuery,
    "total_ratio_vs_baseline": $rawRatio,
    "window_adjusted_total_ratio": $adjRatio,
    "per_query_ratio_vs_baseline": ${if (secPerQuery >= 0) secPerQuery / 1.16 else -1.0},
    "window_quality": $windowQuality}"""
    println(summaryLine(total, results, failed, passes.map(totalOf).toSeq,
      passLoads.toSeq, secPerQuery, gate, sfDir))
    // Persist the complete per-query record to the repo so the
    // driver's truncated stdout tail can never lose the evidence:
    // per-query min AND every raw pass time, plus the 2x-gate
    // arithmetic against the recorded 47-query/54.5s baseline.
    try if (only.isEmpty) {
      val perQuery = names.map { nm =>
        val raw = passes.map(_(nm)).mkString("[", ",", "]")
        // "min" stays FIRST: the prevRecord regex above and every
        // downstream reader key on {"min": ...} leading the object.
        // "cold" is the timed warm-pass execution (see coldTimes).
        s"""    "$nm": {"min": ${results.toMap.apply(nm)}, "cold": ${coldTimes
          .getOrElse(nm, -1.0)}, "passes": $raw}"""
      }.mkString("{\n", ",\n", "\n  }")
      val spread = {
        val ts = passes.map(totalOf).filter(_ >= 0)
        if (ts.nonEmpty && ts.min > 0) ts.max / ts.min else -1.0
      }
      val doc =
        s"""{
  "sf": "$sfDir",
  "cpus": $cpus,
  "pass_totals": $passTotals,
  "pass_loadavg": $loadsJson,
  "pass_spread": $spread,
  "drift_vs_previous_record": $drift,
  "total_min_per_query_s": $total,
  "failed": $failedJson,
  "gate": $gate,
  "per_query": $perQuery
}
"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("PERF_QUERIES.json"),
        doc.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] PERF_QUERIES.json write failed: ${e.getMessage}") }
    spark.stop()
  }
}
