package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.KernelRunner

/** PPG beat detectors (SURVEY K8).
  *
  * van Gent et al. (2019) adaptive thresholding (reference
  * PPG.py:174-233, via HeartPy): centered 0.75 s moving average (scipy
  * uniform_filter1d, reflect edges) raised by `mean(ma/100)*ma_perc`;
  * contiguous above-threshold runs; per run the FIRST argmax — including
  * HeartPy's slicing quirk where run boundaries land on the LAST sample of
  * the previous contiguous segment (`peakedges` positions are diff-gap
  * indices, so each "run" slice starts at the previous run's final
  * element).
  *
  * Fully relational: the MA is a fixed-offset lag/lead sum (reflect edges
  * resolved against tiny per-subject head/tail arrays), runs are one
  * cumulative window, argmax one row_number. Two shuffles total (subject
  * exchange reused across every window).
  *
  * Determinism pin: the MA is rounded to 9 digits before thresholding so
  * double reassociation can never flip a comparison across engines; the
  * global mean uses exact decimal summation.
  */
object PpgDetectors {

  /** Centered uniform filter of width `w = (windowLenS*fs).toInt` with
    * scipy 'reflect' edges, as `__ma` (rounded to 9 digits). Precondition:
    * every recording has at least `w` samples. */
  def reflectUniformMa(signal: DataFrame, fs: Int,
      windowLenS: Double = 0.75): DataFrame = {
    val w = (windowLenS * fs).toInt
    require(w >= 1, "window must span at least one sample")
    val lo = w / 2
    // Head/tail sample arrays (w values each) resolve reflected edge
    // indices; tiny per-subject rows, broadcast-joined back.
    val wAll = Window.partitionBy("subject")
    val bounds = signal
      .withColumn("__mxw", max(col("idx")).over(wAll))
      .groupBy("subject").agg(
        max(col("idx")).as("__mx"),
        count(lit(1)).as("__n"),
        sort_array(collect_list(when(col("idx") < w,
          struct(col("idx"), col("value"))))).getField("value").as("__head"),
        sort_array(collect_list(when(col("idx") > col("__mxw") - w,
          struct(col("idx"), col("value"))))).getField("value").as("__tail"))
    val df = signal.join(broadcast(bounds), Seq("subject"))
    val wS = Window.partitionBy("subject").orderBy("idx")
    def term(k: Int): Column = {
      val pos = col("idx") + k
      val inRange =
        if (k < 0) lag(col("value"), -k).over(wS)
        else if (k > 0) lead(col("value"), k).over(wS)
        else col("value")
      when(pos < 0, element_at(col("__head"), (-pos).cast("int")))
        .when(pos > col("__mx"),
          element_at(col("__tail"), (col("__n") + w - pos).cast("int")))
        .otherwise(inRange)
    }
    val sumTerms = (-lo until (w - lo)).map(term).reduce(_ + _)
    df.withColumn("__ma", bround(sumTerms / w, 9))
      .drop("__mx", "__n", "__head", "__tail")
  }

  /** van Gent adaptive-threshold beats: (subject, idx, value) per detected
    * pulse peak. */
  def vanGent(signal: DataFrame, fs: Int, maPerc: Double = 20.0): DataFrame = {
    val withMa = reflectUniformMa(signal, fs, 0.75)
    // Whole-partition window mean instead of a groupBy + self-join: the MA
    // expression (24 lag/lead terms) is evaluated once, on the exchange the
    // MA windows already established. Decimal sum keeps the threshold
    // bit-equal to the oracle's aggregated form.
    val wAll = Window.partitionBy("subject")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val above = withMa
      .withColumn("__mn",
        (sum(col("__ma").cast(DecimalType(28, 10))).over(wAll).cast("double") /
          count(lit(1)).over(wAll)) / 100.0 * maPerc)
      .filter(col("value") > col("__ma") + col("__mn"))
    val wA = Window.partitionBy("subject").orderBy("idx")
    // HeartPy quirk: a gap AFTER position p makes p the first element of
    // the NEXT slice, so the run id is the INCLUSIVE cumulative gap count.
    val runs = above
      .withColumn("__gap",
        when(lead(col("idx"), 1).over(wA) - col("idx") > 1, 1).otherwise(0))
      .withColumn("__run",
        sum(col("__gap")).over(wA.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wR = Window.partitionBy(col("subject"), col("__run"))
      .orderBy(col("value").desc, col("idx"))
    runs.withColumn("__rn", row_number().over(wR))
      .filter(col("__rn") === 1)
      .select("subject", "idx", "value")
  }

  /** scipy find_peaks-style local maxima (plateau midpoint) with
    * prominences over the full signal: prominence = height − the higher of
    * the two side bases, each base the minimum between the peak and the
    * next strictly-higher sample (or edge). */
  private[kernels] def peaksWithProminence(x: Array[Double]): Array[(Int, Double)] = {
    val n = x.length
    val peaks = collection.mutable.ArrayBuffer.empty[Int]
    var i = 1
    while (i < n - 1) {
      if (x(i - 1) < x(i)) {
        var j = i
        while (j < n - 1 && x(j + 1) == x(i)) j += 1
        if (j < n - 1 && x(j + 1) < x(i)) { peaks += (i + j) / 2; i = j }
      }
      i += 1
    }
    peaks.toArray.map { p =>
      var lmin = x(p); var j = p - 1
      while (j >= 0 && x(j) <= x(p)) { if (x(j) < lmin) lmin = x(j); j -= 1 }
      var rmin = x(p); j = p + 1
      while (j < n && x(j) <= x(p)) { if (x(j) < rmin) rmin = x(j); j += 1 }
      (p, x(p) - math.max(lmin, rmin))
    }
  }

  /** Elgendi et al. (2013) event-related-moving-average PPG detector (K8;
    * reference PPG.py:235-322): clip+square, W1/W2 moving averages,
    * offset-raised threshold, wave-length gate, per-wave max-prominence
    * peak, 300 ms refractory (sequential). */
  def ermaKernel(fs: Int, w1: Double = 0.111, w2: Double = 0.667,
      offset: Double = 0.02, refractory: Double = 0.3)(
      signal: Array[Double]): Array[Int] = {
    val n = signal.length
    if (n == 0) return Array.empty
    val squared = signal.map(v => { val c = math.max(v, 0.0); c * c })

    def maSame(x: Array[Double], w: Int): Array[Double] = {
      val off = (w - 1) / 2
      Array.tabulate(x.length) { i =>
        var s = 0.0; var j = 0
        while (j < w) {
          val k = i + off - j
          if (k >= 0 && k < x.length) s += x(k)
          j += 1
        }
        s / w
      }
    }
    val kPeak = math.rint(w1 * fs).toInt
    val kBeat = math.rint(w2 * fs).toInt
    if (kPeak < 1 || kBeat < 1) return Array.empty
    val maPeak = maSame(squared, kPeak)
    val maBeat = maSame(squared, kBeat)
    val thrOff = offset * (squared.sum / n)

    val waves = Array.tabulate(n)(i => maPeak(i) > maBeat(i) + thrOff)
    val begs = (0 until n - 1).filter(i => !waves(i) && waves(i + 1))
    val ends0 = (0 until n - 1).filter(i => waves(i) && !waves(i + 1))
    if (begs.isEmpty) return Array.empty
    val ends = ends0.filter(_ > begs.head)

    val minLen = math.rint(w1 * fs).toInt
    val minDelay = math.rint(refractory * fs).toInt
    val beats = collection.mutable.ArrayBuffer[Int](0)
    begs.zip(ends).foreach { case (beg, end) =>
      if (end - beg >= minLen) {
        val cands = peaksWithProminence(signal.slice(beg, end))
        if (cands.nonEmpty) {
          val best = cands.maxBy(_._2) // argmax: ties -> first (stable maxBy? enforce below)
          val firstBest = cands.find(_._2 == best._2).get
          val peak = beg + firstBest._1
          if (peak - beats.last > minDelay) beats += peak
        }
      }
    }
    beats.remove(0)
    beats.toArray
  }

  /** ERMA over a signal frame with the reference's Butterworth 0.5-8 Hz
    * order-2 bandpass preprocessing. */
  def erma(signal: DataFrame, fs: Int, preprocessed: Boolean = false,
      bucketLen: Long = KernelRunner.DefaultBucketLen, halo: Int = -1): DataFrame = {
    val (b, a) = Iir.butter(2, Seq(0.5 / (0.5 * fs), 8.0 / (0.5 * fs)), "bandpass")
    val h = if (halo >= 0) halo else KernelRunner.defaultHalo(fs)
    KernelRunner.detectIndices(signal, "value", bucketLen, h) { x =>
      val pre = if (preprocessed) x else Iir.filtfilt(b, a, x)
      ermaKernel(fs)(pre)
    }
  }
}
