package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.DecimalType

/** Signal/feature kernels from the reference, as pure Column
  * expressions (whole-stage-codegen friendly — zero UDFs, zero
  * higher-order functions: those are interpreted per element).
  *
  * Two independent reference specifications agree on the math: the
  * Node-RED JS nodes (FeatureEngineeringApproaches.md:20-38) and the
  * StarRocks in-load SQL (FeatureEngineeringApproaches.md:230-238).
  * Group forms operate on a scalar column under groupBy; array forms
  * operate on an ArrayType column per-row via native kernels —
  * mirroring the reference's two equivalent approaches
  * (FeatureEngineeringApproaches.md:263-276).
  */
object Signal {

  // ---- group (aggregate) forms: one value per group --------------------

  /** RMS = sqrt(mean(x^2)).  FeatureEngineeringApproaches.md:20-24. */
  def rms(x: Column): Column = sqrt(avg(x * x))

  /** Peak = max |x|.  FeatureEngineeringApproaches.md:26-29. */
  def peak(x: Column): Column = max(abs(x))

  /** Peak-to-peak = max - min.  README.md:460. */
  def peakToPeak(x: Column): Column = max(x) - min(x)

  /** Crest factor = peak / rms.  README.md:461. */
  def crest(x: Column): Column = peak(x) / rms(x)

  /** Population EXCESS kurtosis m4/m2^2 - 3 (moments divided by n) —
    * exactly Spark's built-in `kurtosis`. The reference formula uses
    * /n divisors and -3 (FeatureEngineeringApproaches.md:31-38); the
    * DuckDB oracle must use explicit moments, not its sample-corrected
    * `kurtosis()` (SURVEY.md §7.4).
    */
  def kurtosisPop(x: Column): Column = kurtosis(x)

  // ---- array (per-row) forms ------------------------------------------

  private def d(x: Column): Column = x.cast("double")

  /** Sum of squares of an array (spectral energy by Parseval,
    * README.md:465). Sequential left fold — deterministic order; the
    * native `VectorExpressions.sumsq` kernel.
    */
  def arraySumSq(arr: Column): Column = VectorExpressions.sumsq(arr)

  /** Array RMS: sqrt(array_avg(array_map(x -> x*x, arr))) —
    * FeatureEngineeringApproaches.md:230-232.
    */
  def arrayRms(arr: Column): Column =
    sqrt(arraySumSq(arr) / size(arr))

  /** Array peak: array_max(array_map(abs, arr)) —
    * FeatureEngineeringApproaches.md:233-235 — taken as the larger of
    * |max| and |min|: the same value (nulls skipped, NaN largest, null
    * when no element is non-null) from two built-in passes.
    */
  def arrayPeak(arr: Column): Column =
    greatest(abs(d(array_max(arr))), abs(d(array_min(arr))))

  /** One-pass moments of an array: struct(sum, m2_sum, m4_sum,
    * max_abs_dev), the sums of (x − mean)^k and max |x − mean| — see
    * `VectorExpressions.SignalMoments`. Divide by `size(arr)` at the
    * Column level to get the moments themselves.
    */
  def moments(arr: Column): Column =
    GraftShim.column(VectorExpressions.SignalMoments(GraftShim.expression(arr)))

  /** Array population excess kurtosis (explicit moments) —
    * FeatureEngineeringApproaches.md:31-38 / 236-238.
    */
  def arrayKurtosis(arr: Column): Column = {
    val n = size(arr).cast("double")
    val m = moments(arr)
    val m2 = m.getField("m2_sum") / n
    val m4 = m.getField("m4_sum") / n
    m4 / (m2 * m2) - lit(3.0)
  }

  // ---- outlier / quality ----------------------------------------------

  /** z-score against precomputed global stats (README.md:440-441:
    * `calculateOutlierScore`). Pair with a 1-row agg cross join —
    * scale-safe (the stats row broadcasts).
    */
  def zscore(x: Column, mu: Column, sigma: Column): Column =
    abs(x - mu) / sigma

  /** Per-column completeness = fraction non-null (README.md:485-499:
    * `completeness` quality metric).
    */
  def completeness(c: Column): Column =
    avg(when(c.isNull, 0.0).otherwise(1.0))

  // ---- determinism helpers (SURVEY.md §7.4) ---------------------------

  /** Order-independent exact sum: per-row double → DECIMAL(18,6) →
    * decimal sum. IEEE per-row arithmetic is bit-identical across
    * engines and decimal addition is associative, so large-group sums
    * hash-match DuckDB regardless of partial-agg ordering. At 100 TB
    * this is also the right answer: float partial sums across 10^4
    * partitions are run-order nondeterministic.
    */
  def exactSum(x: Column): Column = sum(x.cast(DecimalType(18, 6)))

  /** exactSum projected back to a rounded double for output. */
  def exactSumD(x: Column, scale: Int = 4): Column =
    round(exactSum(x).cast("double"), scale)
}
