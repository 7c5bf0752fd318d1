package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.functions.Signal
import graft.operators.Enrich

/** The native `Signal.moments` kernel and the forms built on it
  * (`Enrich.outlierCheck`, `Signal.arrayKurtosis`, `Signal.arraySumSq`,
  * `Signal.arrayPeak`, `Enrich.features`' time domain) against the
  * higher-order-function forms they replace, kept below as the
  * reference. Every case must agree bit for bit (NaN equal to NaN, the
  * same null positions) or fail with the same error condition, on the
  * whole-stage-codegen path (`doGenCode`) and on the interpreted path
  * (`nullSafeEval`), with ANSI on and off.
  */
class SignalMomentsSpec extends SparkSpec {

  /** The pre-kernel forms: `aggregate`/`transform` folds, the mean
    * re-evaluated inside each lambda.
    */
  private object Hof {
    private def d(x: Column): Column = x.cast("double")

    def outlierCheck(signal: Column): Column = {
      val n = size(signal).cast("double")
      val mean = aggregate(signal, lit(0.0), (a, v) => a + v) / n
      val varr = aggregate(transform(signal, x => (x - mean) * (x - mean)),
        lit(0.0), (a, v) => a + v) / n
      val sd = sqrt(varr)
      val maxAbsZ = when(sd > 0,
        array_max(transform(signal, x => abs(x - mean))) / sd).otherwise(lit(0.0))
      struct(
        (maxAbsZ <= 4.0).as("is_valid"),
        round(least(maxAbsZ / lit(10.0), lit(1.0)), 4).as("outlier_score"))
    }

    def arraySumSq(arr: Column): Column =
      aggregate(transform(arr, x => d(x) * d(x)), lit(0.0), (acc, v) => acc + v)

    def arrayPeak(arr: Column): Column = array_max(transform(arr, x => abs(d(x))))

    def arrayKurtosis(arr: Column): Column = {
      val n = size(arr).cast("double")
      val mean = aggregate(arr, lit(0.0), (a, v) => a + d(v)) / n
      val m2 = aggregate(transform(arr, x => (d(x) - mean) * (d(x) - mean)),
        lit(0.0), (a, v) => a + v) / n
      val m4 = aggregate(
        transform(arr, x => {
          val c = d(x) - mean; c * c * c * c
        }),
        lit(0.0), (a, v) => a + v) / n
      m4 / (m2 * m2) - lit(3.0)
    }

    def moments(arr: Column): Column = {
      val sum = aggregate(arr, lit(0.0), (a, v) => a + d(v))
      val mean = sum / size(arr).cast("double")
      struct(
        sum.as("sum"),
        aggregate(transform(arr, x => (d(x) - mean) * (d(x) - mean)),
          lit(0.0), (a, v) => a + v).as("m2_sum"),
        aggregate(transform(arr, x => { val c = d(x) - mean; c * c * c * c }),
          lit(0.0), (a, v) => a + v).as("m4_sum"),
        array_max(transform(arr, x => abs(d(x) - mean))).as("max_abs_dev"))
    }

    def timeDomain(signal: Column): Column = {
      val rms = sqrt(arraySumSq(signal) / size(signal))
      val peak = array_max(transform(signal, x => abs(x)))
      val ptp = array_max(signal) - array_min(signal)
      struct(rms.as("rms"), peak.as("peak"), ptp.as("peak_to_peak"),
        (peak / rms).as("crest_factor"))
    }
  }

  // field by field: the kernel's struct is null where every field of
  // the reference's is
  private def kernelMoments(arr: Column): Column = {
    val m = Signal.moments(arr)
    struct(Seq("sum", "m2_sum", "m4_sum", "max_abs_dev").map(f => m.getField(f).as(f)): _*)
  }

  private def newTimeDomain(signal: Column): Column =
    Enrich.features(signal, 2000.0).getField("time_domain")

  /** (name, reference form, kernel form) */
  private val forms: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("moments", Hof.moments, kernelMoments),
    ("outlierCheck", Hof.outlierCheck, Enrich.outlierCheck),
    ("arrayKurtosis", Hof.arrayKurtosis, Signal.arrayKurtosis),
    ("arraySumSq", Hof.arraySumSq, Signal.arraySumSq),
    ("arrayPeak", Hof.arrayPeak, Signal.arrayPeak),
    ("time_domain", Hof.timeDomain, newTimeDomain))

  private def sinusoid(n: Int, seed: Long, spike: Boolean, integral: Boolean): Seq[java.lang.Double] = {
    val rnd = new scala.util.Random(seed)
    val amp = 100 + rnd.nextInt(900); val freq = 20.0 + rnd.nextInt(400)
    val ph = rnd.nextDouble() * 2 * math.Pi
    val s = Array.tabulate(n) { t =>
      val v = amp * math.sin(2 * math.Pi * freq * t / 2000.0 + ph) +
        (rnd.nextDouble() - 0.5) * 0.4 * amp
      if (integral) math.round(v).toDouble else v
    }
    if (spike) s(rnd.nextInt(n)) = 20.0 * amp
    s.toSeq.map(Double.box)
  }

  private def box(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  private val cases: Seq[(String, Seq[java.lang.Double])] = Seq(
    "sinusoid n=1000" -> sinusoid(1000, 1L, spike = false, integral = false),
    "sinusoid n=1118 integral" -> sinusoid(1118, 2L, spike = false, integral = true),
    "sinusoid n=1323 with 20x spike" -> sinusoid(1323, 3L, spike = true, integral = false),
    "sinusoid n=1080 integral with 20x spike" -> sinusoid(1080, 4L, spike = true, integral = true),
    "reference golden X" -> box(9, 19, -68, -29, 27, 74, -35, -11, 23, 3),
    "empty" -> Seq.empty,
    "single element" -> box(3.25),
    "constant" -> Seq.fill(64)(Double.box(2.5)),
    "null array" -> null,
    "one null element" -> Seq(Double.box(1.0), null, Double.box(3.0)),
    "NaN element" -> box(1.0, Double.NaN, 3.0, -4.0),
    "+Inf element" -> box(1.0, Double.PositiveInfinity, 3.0),
    "-Inf element" -> box(-2.0, 5.0, Double.NegativeInfinity),
    "+Inf and -Inf" -> box(Double.PositiveInfinity, 0.5, Double.NegativeInfinity),
    "near 1e300" -> box(1e300, -9.5e299, 1.7e300, 3.0, -1.2e300),
    "signed zeros" -> box(-0.0, 0.0, -0.0))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("signal", ArrayType(DoubleType, containsNull = true), nullable = true)))

  // an RDD-backed frame: a local relation would be folded by the
  // optimizer and never reach either evaluation path under test
  private def frame(signal: Seq[java.lang.Double]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(0L, signal)), 1), schema)

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val paths = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "FALLBACK"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Bit-identical values: doubles by their (NaN-canonical) bits, so
    * NaN equals NaN and 0.0 differs from -0.0; nulls in the same places.
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x, y) => x == y
  }

  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  private def evaluate(signal: Seq[java.lang.Double], f: Column => Column,
      path: String): Try[Any] = Try {
    val df = frame(signal).select(f(col("signal")))
    val v = df.collect().head.get(0)
    val fused = df.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    assert(fused == (path == "codegen"), s"$path path, whole-stage codegen = $fused")
    v
  }

  for ((path, pathConf) <- paths; ansi <- Seq("true", "false")) {
    test(s"kernel forms are bit-identical to the HOF forms ($path, ANSI $ansi)") {
      withConf(pathConf :+ ("spark.sql.ansi.enabled" -> ansi): _*) {
        for ((caseName, signal) <- cases; (form, ref, kernel) <- forms) {
          val what = s"$form on $caseName ($path, ANSI $ansi)"
          (evaluate(signal, ref, path), evaluate(signal, kernel, path)) match {
            case (Success(r), Success(k)) =>
              assert(same(r, k), s"$what: reference $r, kernel $k")
            case (Failure(r), Failure(k)) =>
              assert(condition(r).isDefined && condition(r) == condition(k),
                s"$what: reference threw ${condition(r)}, kernel ${condition(k)}: $k")
            case (r, k) => fail(s"$what: reference $r, kernel $k")
          }
        }
      }
    }
  }

  test("the documented edge outcomes of the outlier check") {
    def check(signal: Seq[java.lang.Double]): Row =
      frame(signal).select(Enrich.outlierCheck(col("signal"))).head().getStruct(0)
    withConf("spark.sql.ansi.enabled" -> "false") {
      assert(check(Seq.empty) == Row(true, 0.0))
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      val e = intercept[Exception](check(Seq.empty))
      assert(condition(e).contains("DIVIDE_BY_ZERO"), e)
      assert(check(null) == Row(true, 0.0))
      assert(check(Seq(Double.box(1.0), null)) == Row(true, 0.0))
      assert(check(box(1.0, Double.NaN)) == Row(false, 1.0))
      assert(check(sinusoid(1323, 3L, spike = true, integral = false)).getBoolean(0) == false)
      assert(check(sinusoid(1323, 3L, spike = false, integral = false)).getBoolean(0))
    }
  }
}
