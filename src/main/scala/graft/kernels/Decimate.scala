package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.KernelRunner

/** Anti-aliased decimation for rendering (SURVEY K16; reference
  * `_downsample_data`, dashboard/utils.py:494-581):
  *
  *  - `ds_factor = max(1, fs // ds_target)`; anti-alias 129-tap FIR
  *    (firwin, cutoff `min(0.45/f, 0.49)`) applied zero-phase
  *    (filtfilt, padlen `min(3*129, n-1)`), then stride `[::f]`;
  *  - beat/artifact indices rescale as `rint(ix/f)` (HALF_EVEN) clipped to
  *    `[0, len(ds)-1]`, flags re-applied on the decimated grid;
  *  - IBIs re-derived from the rescaled beats at `ds_fs = int(fs/f)`.
  *
  * The stride/rescale/IBI chain is pure relational (oracle-checked); the
  * FIR filtering runs as a per-recording kernel like every other
  * sequential filter.
  */
object Decimate {

  /** scipy.signal.firwin: Hamming-windowed sinc, DC gain normalized to 1.
    * `cutoff` in Nyquist units (1.0 = fs/2). */
  def firwin(numtaps: Int, cutoff: Double): Array[Double] = {
    val m = (numtaps - 1) / 2.0
    def sinc(x: Double): Double =
      if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)
    val h = Array.tabulate(numtaps) { k =>
      val win = 0.54 - 0.46 * math.cos(2 * math.Pi * k / (numtaps - 1))
      cutoff * sinc(cutoff * (k - m)) * win
    }
    val s = h.sum
    h.map(_ / s)
  }

  /** Zero-phase anti-alias + stride: (subject, idx, ds_idx, value_f) for
    * samples with `idx % f == 0`. Recordings shorter than 11 samples pass
    * through unfiltered (reference guard `len(y) > 10`). */
  def antiAliasStride(signal: DataFrame, dsFactor: Int,
      bucketLen: Long = KernelRunner.DefaultBucketLen, halo: Int = 1024): DataFrame = {
    require(dsFactor >= 1)
    if (dsFactor == 1) return signal.withColumn("ds_idx", col("idx"))
      .withColumn("value_f", col("value"))
    val cutoff = math.min(0.45 / dsFactor, 0.49)
    val b = firwin(129, cutoff)
    // Bucketed halo path: the 129-tap zero-phase FIR has a strictly finite
    // lookback (2*taps + padlen = 645 < 1024), so split recordings match
    // the whole-recording output exactly (forced-split parity in
    // BucketedKernelSpec). Recordings short enough to hit the len<=10 /
    // padlen guards always fit in a single bucket.
    val filtered = KernelRunner.transformValues(
      signal, "value", "value_f", bucketLen, halo) { x =>
      if (x.length > 10)
        Iir.filtfilt(b, Array(1.0), x, padlenOpt = math.min(3 * b.length, x.length - 1))
      else x
    }
    signal.join(filtered, Seq("subject", "idx"))
      .filter(col("idx") % dsFactor === 0)
      .withColumn("ds_idx", (col("idx") / dsFactor).cast("long"))
  }

  /** Beat/artifact index rescale onto the decimated grid:
    * `rint(ix/f)` (HALF_EVEN — ix/f is exact binary so bround is exact)
    * clipped to [0, dsLen-1], deduplicated (many-to-one collapses). */
  def rescaleIndices(marks: DataFrame, dsFactor: Int,
      dsLens: DataFrame): DataFrame =
    marks.join(dsLens, Seq("subject"))
      .select(col("subject"),
        least(greatest(bround(col("idx") / dsFactor, 0).cast("long"), lit(0L)),
          col("__ds_len") - 1).as("ds_idx"))
      .distinct()

  /** Per-subject decimated length = count of idx % f == 0 samples. */
  def dsLengths(signal: DataFrame, dsFactor: Int): DataFrame =
    signal.filter(col("idx") % dsFactor === 0)
      .groupBy("subject").agg(count(lit(1)).as("__ds_len"))

  /** IBIs on the decimated grid: diff of consecutive rescaled beat indices
    * over `ds_fs` (reference re-runs compute_ibis on the strided frame). */
  def ibisFromMarks(marks: DataFrame, dsFs: Int): DataFrame = {
    val w = Window.partitionBy("subject").orderBy("ds_idx")
    marks.select(col("subject"), col("ds_idx"),
      ((col("ds_idx") - lag(col("ds_idx"), 1).over(w)).cast("double") / dsFs * 1000.0)
        .as("ibi_ms"))
  }
}
