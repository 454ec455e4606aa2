package graft.sqa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCR peak detection (SURVEY K10; Nabian 2018 approach as implemented in
  * reference EDA.py `detect_scr_peaks`, EDA.py:219-309).
  *
  * Fully relational: the Bartlett-smoothed derivative is a fixed-offset
  * convolution expression, onset/offset pairing is a rank equi-join, the
  * per-window argmax is a bounded range join, and the reference's
  * sequential relative-amplitude filter reduces EXACTLY to a prefix-max
  * predicate: a rejected candidate's amplitude is < 0.1 x the accepted
  * max, so it can never raise the max — the running max over accepted
  * candidates equals the running max over all candidates (first candidate
  * always accepted when no absolute threshold is set).
  */
object Scr {

  /** np.bartlett(m) normalized to unit sum. */
  def bartlettKernel(m: Int): Array[Double] = {
    val w = Array.tabulate(m) { k =>
      if (k <= (m - 1) / 2.0) 2.0 * k / (m - 1) else 2.0 - 2.0 * k / (m - 1)
    }
    val s = w.sum
    w.map(_ / s)
  }

  /** Detected SCR peaks: (subject, peak_idx, onset, offset, amp).
    * Mirrors detect_scr_peaks with min_peak_amp = None. */
  def peaks(phasic: DataFrame, smoothSize: Int = 20,
      minAmpThresh: Double = 0.1): DataFrame = {
    val w = Window.partitionBy("subject").orderBy("idx")
    val kern = bartlettKernel(smoothSize)
    val off = (smoothSize - 1) / 2 // np.convolve 'same' centering

    val withDiff = phasic.withColumn("__d",
      coalesce(col("value") - lag(col("value"), 1).over(w), lit(0.0)))
    // smoothed[i] = sum_j kern(j) * d[i + off - j], zero-padded edges;
    // summed in j order so the oracle reproduces the exact double.
    def tap(j: Int): Column = {
      val o = off - j
      val v =
        if (o > 0) lead(col("__d"), o).over(w)
        else if (o < 0) lag(col("__d"), -o).over(w)
        else col("__d")
      lit(kern(j)) * coalesce(v, lit(0.0))
    }
    val smoothed = (0 until smoothSize).map(tap).reduce(_ + _)
    val s = withDiff.withColumn("__s", smoothed)
      .withColumn("__sn", lead(col("__s"), 1).over(w))

    // Onset/offset pairing and interval membership WITHOUT leaving the
    // one sorted (subject, idx) pass. Zero crossings alternate, so:
    //   - a sample is inside an interval  iff  running onset count >
    //     adjusted running offset count (the leading unpaired offset is
    //     dropped by subtracting the shift flag),
    //   - its interval id IS the running onset count (most recent onset),
    //   - its interval's offset is the next offset crossing forward,
    //   - a trailing unpaired onset is voided by capping the interval id
    //     at the total adjusted offset count.
    // The former rank-pairing needed the smoothed frame evaluated FIVE
    // times (pos/neg branches, two first-crossing aggregates, the mark
    // union): 10 scans / 26 exchanges collapsed into 1 scan / 1 exchange
    // plus the candidate argmax sort.
    //
    // Degenerate non-alternation (two up-crossings with no down-crossing
    // between them — requires the smoothed derivative to hit EXACTLY 0,
    // measure-zero on real phasic data and absent from the oracle data):
    // interval membership and amplitudes still match the rank-pairing,
    // but the reported `offset` field names the next crossing after the
    // peak rather than the rank-paired one when the peak precedes an
    // interior crossing.
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wFwd = w.rowsBetween(0, Window.unboundedFollowing)
    val tagged = s
      .withColumn("__pc", (col("__s") < 0 && col("__sn") >= 0).cast("int"))
      .withColumn("__nc", (col("__s") > 0 && col("__sn") <= 0).cast("int"))
      .withColumn("__cp", sum(col("__pc")).over(wCum))
      .withColumn("__cnr", sum(col("__nc")).over(wCum))
      .withColumn("__shift",
        when(min(when(col("__nc") === 1, col("idx"))).over(wAll) <
          min(when(col("__pc") === 1, col("idx"))).over(wAll), 1L).otherwise(0L))
      .withColumn("__cn", greatest(col("__cnr") - col("__shift"), lit(0L)))
      .withColumn("__nn",
        greatest(max(col("__cnr")).over(wAll) - col("__shift"), lit(0L)))
      .withColumn("__on",
        last(when(col("__pc") === 1, col("idx")), ignoreNulls = true).over(wCum))
      .withColumn("__onv",
        last(when(col("__pc") === 1, col("value")), ignoreNulls = true).over(wCum))
      .withColumn("__off",
        first(when(col("__nc") === 1, col("idx")), ignoreNulls = true).over(wFwd))
      .filter(col("__cp") > col("__cn") && col("__cp") <= col("__nn"))
    val wPick = Window.partitionBy("subject", "__cp")
      .orderBy(col("value").desc, col("idx"))
    val cands = tagged.withColumn("__pk", row_number().over(wPick))
      .filter(col("__pk") === 1)
      .select(col("subject"), col("__on").as("onset"), col("__off").as("offset"),
        col("idx").as("peak_idx"), (col("value") - col("__onv")).as("amp"))

    // sequential relative-amplitude filter == prefix-max predicate
    val wSeq = Window.partitionBy("subject").orderBy("onset")
      .rowsBetween(Window.unboundedPreceding, -1)
    cands.withColumn("__pm", max(col("amp")).over(wSeq))
      .filter(col("__pm").isNull || col("amp") >= lit(minAmpThresh) * col("__pm"))
      .select("subject", "peak_idx", "onset", "offset", "amp")
  }

  /** Tonic SCL per segment excluding SCR intervals (A10 full;
    * reference `compute_tonic_scl`, EDA.py:311-415) — per-recording kernel
    * because scipy find_peaks distance pruning is greedy-by-height.
    *
    * Faithfully ported reference quirks:
    *  - the recovery walk stops immediately when the derivative at the
    *    peak itself is non-negative (so `end` usually equals the peak);
    *  - segment masks apply the GLOBAL interval indices to each segment's
    *    LOCAL mask (numpy slice clipping), so every segment masks the same
    *    leading positions. */
  def tonicSclKernel(fs: Int, segSize: Int, minHeight: Double = 0.05,
      minRiseS: Double = 1.0, minRecoveryS: Double = 2.0)(
      x: Array[Double]): Array[Double] = {
    val n = x.length
    if (n == 0) return Array.empty
    val diff = Array.tabulate(n)(i => if (i == 0) 0.0 else x(i) - x(i - 1))
    // scipy find_peaks: plateau-midpoint local maxima, height filter,
    // greedy distance pruning (highest first; ties -> later index first)
    val locs = collection.mutable.ArrayBuffer.empty[Int]
    var i = 1
    while (i < n - 1) {
      if (x(i - 1) < x(i)) {
        var j = i
        while (j < n - 1 && x(j + 1) == x(i)) j += 1
        if (j < n - 1 && x(j + 1) < x(i)) { locs += (i + j) / 2; i = j }
      }
      i += 1
    }
    val tall = locs.filter(p => x(p) >= minHeight).toArray
    val minDist = ((minRiseS + minRecoveryS) * fs).toInt
    val order = tall.sortBy(p => (-x(p), -p))
    val kept = collection.mutable.SortedSet.empty[Int]
    val removed = collection.mutable.HashSet.empty[Int]
    order.foreach { p =>
      if (!removed(p)) {
        kept += p
        tall.foreach(q => if (q != p && math.abs(q - p) < minDist && !kept(q)) removed += q)
      }
    }
    val peaks = kept.toArray

    val intervals = peaks.map { p =>
      var s = p
      while (s > 0 && diff(s) > 0) s -= 1
      var e = p
      while (e < n - 1 && diff(e) < 0) e += 1
      (s, e)
    }

    val segLen = segSize * fs
    val nSeg = n / segLen
    Array.tabulate(nSeg) { k =>
      val seg = x.slice(k * segLen, (k + 1) * segLen)
      val mask = Array.fill(segLen)(true)
      intervals.foreach { case (s, e) =>
        var j = math.min(s, segLen)
        val stop = math.min(e, segLen)
        while (j < stop) { mask(j) = false; j += 1 }
      }
      val keptV = seg.indices.filter(mask).map(seg)
      if (keptV.nonEmpty) keptV.sum / keptV.length else Double.NaN
    }
  }

  /** Frame-level per-segment tonic SCL: (subject, segment, tonic_scl). */
  def tonicScl(signal: DataFrame, fs: Int, segSize: Int): DataFrame = {
    val spark = signal.sparkSession
    import spark.implicits._
    graft.core.KernelRunner.perSlice(signal, Some("value")) { s =>
      tonicSclKernel(fs, segSize)(s.value).iterator.zipWithIndex
        .map { case (v, k) => (s.subject, (k + 1).toLong, v) }
    }.toDF("subject", "segment", "tonic_scl")
  }
}
