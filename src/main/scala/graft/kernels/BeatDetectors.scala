package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.KernelRunner

/** Beat detectors (SURVEY K4-K8).
  *
  *  - Nabian 2018 (K6): pure window expression — no kernel needed.
  *  - Pan-Tompkins 1985 (K7): sequential FSM kernel via KernelRunner.
  *  - Engzee (K4) and Manikandan-Soman (K5): bucketed kernels below;
  *    the PPG detectors (K8, ERMA/van Gent) live in PpgDetectors.scala.
  */
object BeatDetectors {

  /** Nabian et al. (2018) R-peak detection (reference ECG.py:515-554):
    * sample i is a peak iff the first argmax of window [i-w, i+w) sits at
    * position w+1 (the reference's exact off-by-one comparison,
    * `i == i - window_size - 1 + rpeak`), for i in [w+1, len-w-1].
    * w = int(0.4 * fs).
    *
    * Pure window form: one frame max + first-argmax via an ordered struct
    * max (ties resolve to the earliest index, matching np.argmax).
    * Output: signal rows + `nabian_beat` flag. */
  def nabian(signal: DataFrame, fs: Int): DataFrame = {
    val w = (0.4 * fs).toInt
    val frame = Window.partitionBy("subject").orderBy("idx").rowsBetween(-w, w - 1)
    val wAll = Window.partitionBy("subject")
    val maxStruct = max(struct(col("value").as("v"), (-col("idx")).as("ni"))).over(frame)
    signal
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__first_max_idx", -maxStruct.getField("ni"))
      .withColumn("nabian_beat",
        when(col("idx").between(w + 1, col("__n") - w - 1) &&
          col("__first_max_idx") === col("idx") + 1, 1))
      .drop("__n", "__first_max_idx")
  }

  /** Pan & Tompkins (1985) QRS detection (reference ECG.py:556-661) as a
    * per-recording kernel: squared derivative → 150 ms integration MA with
    * the reference's exact head handling → adaptive SPKI/NPKI thresholds,
    * 300 ms refractory, missed-beat re-search over the last 8 IBIs.
    * Returns positions (0-based) into the recording array. */
  def panTompkinsKernel(fs: Int)(signal: Array[Double]): Array[Int] = {
    val n = signal.length
    if (n < 2) return Array.empty
    // squared derivative
    val squared = new Array[Double](n - 1)
    var i = 0
    while (i < n - 1) { val d = signal(i + 1) - signal(i); squared(i) = d * d; i += 1 }

    // 150 ms moving average: uniform_filter1d(squared, w, origin=(w-1)//2)
    // is a TRAILING window [i-w+1, i] (== py-ecg-detectors MWA_cumulative);
    // the head overwrite below exists precisely because that is where the
    // trailing window is partial, so left indices just clamp to 0.
    val w = (0.15 * fs).toInt
    val mwa = new Array[Double](squared.length)
    var runSum = 0.0
    i = 0
    while (i < squared.length) {
      runSum += squared(i)
      if (i >= w) runSum -= squared(i - w)
      mwa(i) = runSum / w
      i += 1
    }
    // reference head quirk: first (w-1) values overwritten with the running
    // mean of the RAW signal (ECG.py:592-594), then first 0.2 s zeroed
    val headSize = math.min(w - 1, squared.length)
    var cum = 0.0
    i = 0
    while (i < headSize) { cum += signal(i); mwa(i) = cum / (i + 1); i += 1 }
    i = 0
    val zeroN = math.min((0.2 * fs).toInt, mwa.length)
    while (i < zeroN) { mwa(i) = 0.0; i += 1 }

    // strict local maxima (find_peaks plateau_size=(1,1))
    val peaks = collection.mutable.ArrayBuffer.empty[Int]
    i = 1
    while (i < mwa.length - 1) {
      if (mwa(i) > mwa(i - 1) && mwa(i) > mwa(i + 1)) peaks += i
      i += 1
    }

    val minPeakDist = (0.3 * fs).toInt
    val minMissedDist = (0.25 * fs).toInt
    val beats = collection.mutable.ArrayBuffer.empty[Int]
    var spki = 0.0
    var npki = 0.0
    var lastPeak = 0
    var lastIndex = -1
    var pi = 0
    while (pi < peaks.length) {
      val peak = peaks(pi)
      val pv = mwa(peak)
      val thr1 = npki + 0.25 * (spki - npki)
      if (pv > thr1 && peak > lastPeak + minPeakDist) {
        beats += peak
        if (beats.length > 9) {
          val ibiAvg = (beats(beats.length - 2) - beats(beats.length - 10)) / 8
          val ibiMissed = (1.66 * ibiAvg).toInt
          if (peak - lastPeak > ibiMissed) {
            val thr2 = 0.5 * thr1
            val missed = peaks.slice(lastIndex + 1, pi)
              .filter(p => p > lastPeak + minMissedDist && p < peak - minMissedDist)
              .filter(p => mwa(p) > thr2)
            if (missed.nonEmpty) {
              val best = missed.maxBy(mwa(_))
              beats(beats.length - 1) = best
              beats += peak
            }
          }
        }
        lastPeak = peak
        lastIndex = pi
        spki = 0.125 * pv + 0.875 * spki
      } else {
        npki = 0.125 * pv + 0.875 * npki
      }
      pi += 1
    }
    // order-preserving dedupe (reference _remove_dupes)
    val seen = collection.mutable.LinkedHashSet.empty[Int]
    beats.foreach(seen += _)
    seen.toArray
  }

  /** Pan-Tompkins over a signal frame with the reference's Butterworth
    * 0.5-15 Hz order-2 bandpass preprocessing. Runs on the bucketed
    * halo-row path (the 100 TB posture): recordings longer than
    * `bucketLen` split into bounded tasks, the halo covering filter
    * warm-up and the adaptive-threshold convergence length. */
  def panTompkins(signal: DataFrame, fs: Int, preprocessed: Boolean = false,
      bucketLen: Long = KernelRunner.DefaultBucketLen, halo: Int = -1): DataFrame = {
    val (b, a) = Iir.butter(2, Seq(0.5 / (0.5 * fs), 15.0 / (0.5 * fs)), "bandpass")
    val h = if (halo >= 0) halo else KernelRunner.defaultHalo(fs)
    KernelRunner.detectIndices(signal, "value", bucketLen, h) { x =>
      val pre = if (preprocessed) x else Iir.filtfilt(b, a, x)
      panTompkinsKernel(fs)(pre)
    }
  }

  /** Engelse-Zeelenberg 1979 / Lourenço 2012 QRS detection (K4; reference
    * ECG.py:231-383): 4-lag difference, [1,4,6,4,1] low-pass, adaptive M
    * threshold over a 5-peak memory with a 1.0→0.6 decay slope, negative
    * threshold-crossing counter, argmax over the unfiltered window. The
    * first detection is dropped (it seeds the threshold). */
  def engzeeKernel(fs: Int)(signal: Array[Double]): Array[Int] = {
    val n = signal.length
    if (n == 0) return Array.empty
    val diff = new Array[Double](n)
    var i = 4
    while (i < n) { diff(i) = signal(i) - signal(i - 4); i += 1 }
    val lowPass = Iir.lfilter(Array(1, 4, 6, 4, 1).map(_.toDouble), Array(1.0), diff)
    val zeroN = math.min((0.2 * fs).toInt, n)
    i = 0
    while (i < zeroN) { lowPass(i) = 0.0; i += 1 }

    val ms200 = (0.2 * fs).toInt
    val ms1200 = (1.2 * fs).toInt
    val ms160 = (0.16 * fs).toInt
    val negThreshold = (0.01 * fs).toInt
    val slopeLen = ms1200 - ms200
    def mSlope(k: Int): Double =
      if (slopeLen <= 1) 1.0 else 1.0 - 0.4 * k / (slopeLen - 1)

    var m = 0.0
    var runningMax = Double.NegativeInfinity
    val mm = collection.mutable.ArrayBuffer.empty[Double]
    val qrs = collection.mutable.ArrayBuffer.empty[Int]
    val beats = collection.mutable.ArrayBuffer.empty[Int]
    var counter = 0
    var lastThi = -1
    var thi = false
    var thf = false
    var newM5 = 0.0

    i = 0
    while (i < n) {
      if (i < 5 * fs) {
        if (lowPass(i) > runningMax) runningMax = lowPass(i)
        m = 0.6 * runningMax
        mm += m
        if (mm.length > 5) mm.remove(0)
      } else if (qrs.nonEmpty && i < qrs.last + ms200) {
        var mx = Double.NegativeInfinity
        var j = qrs.last
        while (j < i) { if (lowPass(j) > mx) mx = lowPass(j); j += 1 }
        newM5 = 0.6 * mx
        if (newM5 > 1.5 * mm.last) newM5 = 1.1 * mm.last
      } else if (newM5 != 0.0 && qrs.nonEmpty && i == qrs.last + ms200) {
        mm += newM5
        if (mm.length > 5) mm.remove(0)
        m = mm.sum / mm.length
      } else if (qrs.nonEmpty && i > qrs.last + ms200 && i < qrs.last + ms1200) {
        m = (mm.sum / mm.length) * mSlope(i - (qrs.last + ms200))
      } else if (qrs.nonEmpty && i > qrs.last + ms1200) {
        m = 0.6 * (mm.sum / mm.length)
      }

      if (qrs.isEmpty && lowPass(i) > m) {
        qrs += i; lastThi = i; thi = true
      } else if (qrs.nonEmpty && i > qrs.last + ms200 && lowPass(i) > m) {
        qrs += i; lastThi = i; thi = true
      }

      if (thi && i < lastThi + ms160) {
        if (lowPass(i) < -m && i >= 1 && lowPass(i - 1) > -m) thf = true
        if (thf && lowPass(i) < -m) counter += 1
        else if (lowPass(i) > -m && thf) { counter = 0; thi = false; thf = false }
      } else if (thi && i > lastThi + ms160) {
        counter = 0; thi = false; thf = false
      }

      if (counter > negThreshold) {
        val start = math.max(0, lastThi - (0.01 * fs).toInt)
        if (i > start) {
          var best = start; var bv = signal(start)
          var j = start + 1
          while (j < i) { if (signal(j) > bv) { bv = signal(j); best = j }; j += 1 }
          beats += best
        }
        counter = 0; thi = false; thf = false
      }
      i += 1
    }
    if (beats.nonEmpty) beats.remove(0) // first detection only seeds M
    val seen = collection.mutable.LinkedHashSet.empty[Int]
    beats.foreach(seen += _)
    seen.toArray
  }

  /** Manikandan-Soman 2012 R-peak detection (K5; reference
    * ECG.py:385-513): normalized derivative → Shannon energy → 0.15 s MA →
    * Hilbert → 2.5 s MA drift removal → positive zero-crossings →
    * ±0.12 s argmax windows (negative window indices wrap to the signal
    * tail, as numpy indexing does) → optional sequential adaptive
    * amplitude threshold over 0.44 s windows stepped by 0.1 s. */
  def manikandanKernel(fs: Int, adaptiveThreshold: Boolean = true,
      window: Double = 0.44)(signal: Array[Double]): Array[Int] = {
    val n = signal.length
    if (n < 2) return Array.empty
    val dn = Array.tabulate(n)(i => (if (i + 1 < n) signal(i + 1) else 0.0) - signal(i))
    var mx = 0.0
    dn.foreach(v => if (math.abs(v) > mx) mx = math.abs(v))
    if (mx == 0.0) return Array.empty
    val dtn = dn.map(_ / mx)
    // -(dtn²)·log10(dtn²); dtn == 0 → 0·(-inf) = NaN, exactly as numpy.
    val sn = dtn.map { v => val e = v * v; -e * math.log10(e) }

    def maCumulative(x: Array[Double], w: Int): Array[Double] = {
      if (x.length < w) return Array.empty
      val cs = new Array[Double](x.length + 1)
      var i = 0
      while (i < x.length) { cs(i + 1) = cs(i) + x(i); i += 1 }
      Array.tabulate(x.length - w + 1)(i => (cs(i + w) - cs(i)) / w)
    }
    // Recordings shorter than an MA window keep a zero MA (the reference's
    // numpy insert would length-mismatch there).
    val wl = (0.15 * fs).toInt
    val snF = new Array[Double](n)
    val ma1 = maCumulative(sn, wl)
    if (ma1.nonEmpty) System.arraycopy(ma1, 0, snF, wl - 1, ma1.length)
    val zn = Fft.hilbertImag(snF)
    val maLen = (fs * 2.5).toInt
    val znMa = new Array[Double](n)
    val ma2 = maCumulative(zn, maLen)
    if (ma2.nonEmpty) System.arraycopy(ma2, 0, znMa, maLen - 1, ma2.length)
    val s = Array.tabulate(n)(i => zn(i) - znMa(i))

    // positive-going zero crossings of sign(s)
    val crossings = (0 until n - 1).filter { i =>
      val d = math.signum(s(i + 1)) - math.signum(s(i))
      d > 0
    }
    val half = math.round(fs * 0.12).toInt
    val beats = collection.mutable.ArrayBuffer.empty[Int]
    crossings.foreach { c =>
      val idxs = collection.mutable.ArrayBuffer.empty[Int]
      var j = c - half
      while (j < c) { idxs += j; j += 1 }
      idxs += c
      j = c + 1
      val hiEnd = c + half
      while (j <= hiEnd && j < n) { idxs += j; j += 1 }
      // numpy negative indices wrap to the tail
      var best = -1; var bv = Double.NegativeInfinity
      idxs.foreach { k =>
        val kk = if (k < 0) n + k else k
        if (kk >= 0 && kk < n && signal(kk) > bv) { bv = signal(kk); best = kk }
      }
      if (best > 0) beats += best
    }
    val seen = collection.mutable.LinkedHashSet.empty[Int]
    beats.foreach(seen += _)
    val unique = seen.toArray
    if (!adaptiveThreshold) return unique

    // sequential amplitude gate: rejections feed later (overlapping) windows
    val isBeat = new Array[Boolean](n)
    unique.foreach(isBeat(_) = true)
    val winLen = (fs * window).toInt
    val step = (fs * 0.1).toInt
    var start = 0
    while (start < n) {
      val end = math.min(start + winLen, n)
      val inWin = (start until end).filter(isBeat)
      if (inWin.length >= 2) {
        val vals = inWin.map(signal)
        val thresh =
          if (inWin.length == 2) (vals.min + vals.max) * 0.5
          else {
            val sorted = vals.sorted
            val m = sorted.length
            val med = if (m % 2 == 1) sorted(m / 2)
              else (sorted(m / 2 - 1) + sorted(m / 2)) / 2.0
            (med + vals.max) * 0.5
          }
        inWin.foreach(ix => if (signal(ix) < thresh) isBeat(ix) = false)
      }
      start += math.max(step, 1)
    }
    (0 until n).filter(isBeat).toArray
  }

  /** Engzee over a signal frame with the reference's default filter chain
    * skipped when `preprocessed` (the events-derived frame has no powerline
    * structure worth the notch cascade). */
  def engzee(signal: DataFrame, fs: Int,
      bucketLen: Long = KernelRunner.DefaultBucketLen, halo: Int = -1): DataFrame = {
    val h = if (halo >= 0) halo else KernelRunner.defaultHalo(fs)
    KernelRunner.detectIndices(signal, "value", bucketLen, h)(engzeeKernel(fs))
  }

  /** Manikandan with the reference's Chebyshev-I 6-18 Hz order-4 bandpass
    * preprocessing. Bucketed path caveat: the kernel's Hilbert envelope is
    * FFT-based (global), so split recordings converge (the 1/t Hilbert tail
    * is < 1/halo at the core boundary) rather than match bitwise — same
    * contract as the adaptive-threshold FSMs. */
  def manikandan(signal: DataFrame, fs: Int, preprocessed: Boolean = false,
      bucketLen: Long = KernelRunner.DefaultBucketLen, halo: Int = -1): DataFrame = {
    val (b, a) = Iir.cheby1(4, 1.0, Seq(6.0 / (0.5 * fs), 18.0 / (0.5 * fs)), "bandpass")
    val h = if (halo >= 0) halo else KernelRunner.defaultHalo(fs)
    KernelRunner.detectIndices(signal, "value", bucketLen, h) { x =>
      val pre = if (preprocessed) x else Iir.filtfilt(b, a, x)
      manikandanKernel(fs)(pre)
    }
  }
}
