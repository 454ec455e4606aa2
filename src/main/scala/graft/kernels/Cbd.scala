package graft.kernels

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Criterion-beat-difference artifact test, Berntson et al. (1990), as
  * implemented by the reference with Hoemann et al. (2020) edge handling
  * (reference pipeline/SQA.py:391-475, K13).
  *
  * Sequential per-recording kernel: the reference's neighbor-slice edge
  * cases (leading, trailing, last-element) are position-dependent on the
  * whole IBI array, so a faithful port runs per recording via the kernel
  * contract. Output is the set of artifact beat indices.
  */
object Cbd {

  /** Pure kernel over a recording's ascending beat sample indices.
    * Returns artifact beat sample indices (deduplicated, ascending). */
  def kernel(beatsIx: Array[Long], fs: Int, neighbors0: Int = 5,
      tol: Double = 1.0): Array[Long] = {
    if (beatsIx.length < 2) return Array.empty
    val ibis = beatsIx.sliding(2).map(p => (p(1) - p(0)).toDouble / fs * 1000.0).toArray
    val ibiDiffs = ibis.sliding(2).map(p => math.abs(p(1) - p(0))).toArray
    val artifacts = collection.mutable.ArrayBuffer.empty[Long]

    // implausible IBIs (< 40 bpm)
    val minIbi = 60000.0 / 40
    for (i <- ibis.indices if ibis(i) > minIbi) artifacts += beatsIx(i + 1)

    val neighbors = math.min(neighbors0, ibiDiffs.length)
    val half = neighbors / 2

    def median(a: Array[Double]): Double = {
      if (a.isEmpty) return Double.NaN
      val s = a.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    def quartileDeviation(a: Array[Double]): Double = {
      // numpy linear-interpolated percentiles
      def pct(s: Array[Double], q: Double): Double = {
        val pos = q * (s.length - 1)
        val lo = pos.toInt
        val hi = math.min(lo + 1, s.length - 1)
        s(lo) + (s(hi) - s(lo)) * (pos - lo)
      }
      if (a.isEmpty) return Double.NaN
      val s = a.sorted
      (pct(s, 0.75) - pct(s, 0.25)) * 0.5
    }

    for (ii <- ibiDiffs.indices) {
      // neighbor slices, replicating the reference's exact branches
      val (sel, selIbi) =
        if (ii < half + 1)
          (ibiDiffs.slice(0, ii) ++ ibiDiffs.slice(ii + 1, neighbors + 1),
            ibis.slice(0, ii) ++ ibis.slice(ii + 1, neighbors + 1))
        else if (ibiDiffs.length - ii < half + 1 && ibiDiffs.length - ii > 1)
          (ibiDiffs.slice(ibiDiffs.length - (neighbors - 1), ii) ++ ibiDiffs.slice(ii + 1, ibiDiffs.length),
            ibis.slice(ibis.length - (neighbors - 1), ii) ++ ibis.slice(ii + 1, ibis.length))
        else if (ibiDiffs.length - ii == 1)
          (ibiDiffs.slice(ibiDiffs.length - (neighbors - 1), ibiDiffs.length - 1),
            ibis.slice(ibis.length - (neighbors - 1), ibis.length - 1))
        else
          (ibiDiffs.slice(ii - half, ii) ++ ibiDiffs.slice(ii + 1, ii + 1 + half),
            ibis.slice(ii - half, ii) ++ ibis.slice(ii + 1, ii + 1 + half))

      val qd = quartileDeviation(sel)
      val med = 3.32 * qd
      val mad = (median(selIbi) - 2.9 * qd) / 3.0
      val criterion = (med + mad) / 2.0
      if (ibiDiffs(ii) > tol * criterion) {
        val bad = (neighbors * 0.25).toInt
        val hi =
          if (ii + (bad - 1) < beatsIx.length) math.min(ii + bad + 1, beatsIx.length)
          else math.min(ii + (bad - 1), beatsIx.length)
        for (j <- (ii + 1) until hi) artifacts += beatsIx(j)
      }
    }
    artifacts.distinct.sorted.toArray
  }

  /** CBD artifacts over a beats frame (subject, idx): one kernel run per
    * recording, emitting (subject, idx) artifact beat rows. */
  def artifacts(beats: DataFrame, fs: Int, neighbors: Int = 5,
      tol: Double = 1.0): DataFrame = {
    val spark = beats.sparkSession
    import spark.implicits._
    graft.core.KernelRunner.perSlice(beats) { s =>
      kernel(s.idx, fs, neighbors, tol).iterator.map(i => (s.subject, i))
    }.toDF("subject", "idx")
  }
}
