package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Signal, VectorExpressions}
import graft.ml.Fft

/** The reference's record-enrichment pipeline (§3.1): four chained
  * stages, each appending a struct to the payload — outlier check →
  * time/frequency features → quality metrics — producing the
  * fully-processed nested record of README.md:501-539 (FIXTURES.md §B4
  * schema golden).
  *
  * One narrow Spark pipeline: no shuffle. Every array computation is a
  * codegen'd native kernel or built-in (`Signal.moments`, `sumsq`,
  * `array_max`/`array_min`), O(n) per record; the dominant-frequency
  * FFT UDF is the only interpreted call. No higher-order function
  * (`transform`/`aggregate`) may appear here: Spark interprets those
  * per element, and one that re-evaluates a fold inside its lambda
  * makes a record O(n²) (EnrichPlanSpec guards this). The same code
  * runs on batch DataFrames and Structured Streaming frames — that is
  * the point of declaring it on the DataFrame API.
  *
  * Expected input columns: an ArrayType(Double) signal column, an
  * event-time timestamp column, and a status string column.
  */
object Enrich {

  val ProcessingVersion = "1.0"

  /** Stage 1 — outlier check (README.md:434-449): z-score of the
    * signal's extremes against its own mean/stddev; is_valid mirrors
    * the reference's `return null` drop semantics (filter downstream).
    * outlier_score = fraction-like score in [0,1] from the max |z|.
    * The sums come from the one-pass `Signal.moments` kernel; the
    * divisions by n stay here, so an empty signal follows Spark's
    * Divide (DIVIDE_BY_ZERO under ANSI, else valid with score 0).
    */
  def outlierCheck(signal: Column): Column = {
    val n = size(signal).cast("double")
    val m = Signal.moments(signal)
    val sd = sqrt(m.getField("m2_sum") / n)
    val maxAbsZ = when(sd > 0, m.getField("max_abs_dev") / sd).otherwise(lit(0.0))
    struct(
      (maxAbsZ <= 4.0).as("is_valid"),
      round(least(maxAbsZ / lit(10.0), lit(1.0)), 4).as("outlier_score"))
  }

  /** Stage 2 — signal features (README.md:451-470): time-domain
    * rms/peak/peak-to-peak/crest + frequency-domain dominant_freq and
    * spectral_energy. The spectral energy Σ|X(k)|²/n equals Σx² by
    * Parseval, so it is the O(n) `sumsq` kernel, not a second FFT per
    * record; it agrees with `Fft.spectralEnergy` to rounding (a few
    * ulps; EnrichMlSpec holds it to 1e-12 relative) and, like the other
    * native kernels, reads null for a null element.
    */
  def features(signal: Column, sampleRateHz: Double): Column = {
    val rms = Signal.arrayRms(signal)
    val peak = Signal.arrayPeak(signal)
    val ptp = array_max(signal) - array_min(signal)
    struct(
      struct(
        rms.as("rms"),
        peak.as("peak"),
        ptp.as("peak_to_peak"),
        (peak / rms).as("crest_factor")).as("time_domain"),
      struct(
        Fft.dominant_freq(signal, lit(sampleRateHz)).as("dominant_freq"),
        VectorExpressions.sumsq(signal).as("spectral_energy")).as("frequency_domain"))
  }

  /** Stage 4 — quality metrics (README.md:485-499): completeness =
    * fraction of required fields present, consistency flag, version +
    * processing timestamp stamps. The timestamp is one value per query
    * execution (per micro-batch in a stream), kept out of the generated
    * code by `VectorExpressions.batchTimestamp`, so a stream's enrichment
    * stage compiles once, not once per batch.
    */
  def qualityMetrics(requiredCols: Seq[Column], consistency: Column): Column = {
    val present = requiredCols.map(c => when(c.isNull, 0.0).otherwise(1.0))
    val completeness = present.reduce(_ + _) / lit(requiredCols.size.toDouble)
    struct(
      round(completeness, 4).as("completeness"),
      consistency.as("consistency"),
      round((completeness + consistency.cast("double")) / 2.0, 4)
        .as("data_quality_score"),
      lit(ProcessingVersion).as("processing_version"),
      VectorExpressions.batchTimestamp().as("processing_timestamp"))
  }

  /** Full pipeline: raw frame + signal column → enriched nested record
    * (raw fields preserved under `raw_data`, per README.md:503-511).
    * Invalid rows are KEPT with is_valid=false; callers route them
    * (Streaming.dlqSplit) or drop them — matching the reference's
    * filter-first stage order without losing the DLQ path.
    */
  def pipeline(df: DataFrame, signalCol: String, tsCol: String,
      statusCol: String, sampleRateHz: Double = 2000.0): DataFrame = {
    val sig = col(signalCol)
    df.withColumn("outlier_check", outlierCheck(sig))
      .withColumn("features", features(sig, sampleRateHz))
      .withColumn("quality_metrics", qualityMetrics(
        Seq(sig, col(tsCol), col(statusCol)),
        col(statusCol) === "Good"))
  }
}
