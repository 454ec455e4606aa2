package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Resampling (SURVEY K15).
  *
  *  - Polyphase `resample_poly(up, down)` (reference EDA.py:484-518):
  *    Kaiser-windowed sinc anti-alias FIR over the zero-stuffed upsampled
  *    grid, every `down`-th output kept. Fully relational: the stuffed grid
  *    is an exploded per-subject sequence and the FIR is a fixed-offset
  *    lag/lead expression — codegen end to end, one shuffle on subject.
  *  - Fourier `scipy.signal.resample` (reference physioview.py:105-112):
  *    FFT spectrum truncation/zero-padding — per-recording kernel.
  */
object Resample {

  /** Modified Bessel I0 (power series, converges fast for |x| < 30). */
  def besselI0(x: Double): Double = {
    var sum = 1.0; var term = 1.0; var k = 1
    while (k < 64 && term > 1e-18 * sum) {
      term *= (x / (2.0 * k)) * (x / (2.0 * k))
      sum += term
      k += 1
    }
    sum
  }

  /** Kaiser window of length n with shape beta (np.kaiser). */
  def kaiser(n: Int, beta: Double): Array[Double] = {
    val m = (n - 1) / 2.0
    Array.tabulate(n) { k =>
      val r = (k - m) / m
      besselI0(beta * math.sqrt(math.max(0.0, 1 - r * r))) / besselI0(beta)
    }
  }

  /** Kaiser-windowed sinc lowpass, DC gain 1 (scipy firwin equivalent with
    * window=('kaiser', beta)); cutoff in Nyquist units. */
  def firwinKaiser(numtaps: Int, cutoff: Double, beta: Double = 5.0): Array[Double] = {
    val m = (numtaps - 1) / 2.0
    def sinc(x: Double): Double =
      if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)
    val win = kaiser(numtaps, beta)
    val h = Array.tabulate(numtaps)(k => cutoff * sinc(cutoff * (k - m)) * win(k))
    val s = h.sum
    h.map(_ / s)
  }

  /** scipy resample_poly's anti-alias taps: 2*10*max(up,down)+1 Kaiser-5
    * sinc at cutoff 1/max(up,down), scaled by `up`. */
  def polyTaps(up: Int, down: Int): Array[Double] = {
    val q = math.max(up, down)
    firwinKaiser(2 * 10 * q + 1, 1.0 / q).map(_ * up)
  }

  /** Polyphase resample of a signal frame: output one row per resampled
    * sample, `ridx = 0 .. ceil(n*up/down)-1`, `value_rs` the filtered
    * value. Mirrors resample_poly's centered-delay alignment and zero
    * padding at the edges. */
  def resamplePoly(signal: DataFrame, up: Int, down: Int): DataFrame = {
    require(up >= 1 && down >= 1)
    val h = polyTaps(up, down)
    val half = (h.length - 1) / 2
    val wS = Window.partitionBy("subject").orderBy("ui")
    val counts = signal.groupBy("subject").agg(count(lit(1)).as("__n"))
    val grid = counts.select(col("subject"),
      explode(sequence(lit(0L), col("__n") * up - 1)).as("ui"))
    val stuffed = grid.join(
      signal.select(col("subject"), (col("idx") * up).as("ui"), col("value")),
      Seq("subject", "ui"), "left")
      .na.fill(0.0, Seq("value"))
    def tap(j: Int): Column = {
      val o = half - j
      val v =
        if (o > 0) lag(col("value"), o).over(wS)
        else if (o < 0) lead(col("value"), -o).over(wS)
        else col("value")
      lit(h(j)) * coalesce(v, lit(0.0))
    }
    val conv = (h.indices).map(tap).reduce(_ + _)
    stuffed.withColumn("__y", conv)
      .filter(col("ui") % down === 0)
      .select(col("subject"), (col("ui") / down).cast("long").as("ridx"),
        col("__y").as("value_rs"))
  }

  /** scipy.signal.resample: Fourier-domain resample of one recording to
    * `num` samples (truncate/zero-pad the spectrum, Nyquist bin split per
    * scipy's even-length handling). */
  def fourierResampleKernel(num: Int)(x: Array[Double]): Array[Double] = {
    val n = x.length
    if (n == 0 || num == 0) return Array.empty
    val re = x.clone(); val im = new Array[Double](n)
    Fft.fft(re, im, invert = false)
    val or = new Array[Double](num); val oi = new Array[Double](num)
    val nMin = math.min(n, num)
    val half = nMin / 2
    var k = 0
    while (k <= half && k < nMin) { // positive freqs (k <= half)
      if (k < num && k < n) { or(k) = re(k); oi(k) = im(k) }
      k += 1
    }
    k = 1
    while (k < (nMin + 1) / 2) { // negative freqs
      or(num - k) = re(n - k); oi(num - k) = im(n - k)
      k += 1
    }
    if (nMin % 2 == 0) {
      if (num < n) { // downsampling: fold the Nyquist bin
        or(half) = re(half) + re(n - half)
        oi(half) = im(half) + im(n - half)
        or(half) *= 0.5; oi(half) *= 0.5
        or(num - half) = or(half); oi(num - half) = oi(half)
      } else if (num > n) { // upsampling: split the Nyquist bin
        or(half) = re(half) * 0.5; oi(half) = im(half) * 0.5
        or(num - half) = or(half); oi(num - half) = oi(half)
      }
    }
    Fft.fft(or, oi, invert = true)
    or.map(_ * num / n.toDouble)
  }

  /** Fourier resample over a frame: per-subject output length
    * `round(n * newFs / fs)`. */
  def fourierResample(signal: DataFrame, fs: Int, newFs: Int): DataFrame = {
    val spark = signal.sparkSession
    import spark.implicits._
    graft.core.KernelRunner.perSlice(signal, Some("value")) { s =>
      val num = math.round(s.value.length.toDouble * newFs / fs).toInt
      fourierResampleKernel(num)(s.value).iterator.zipWithIndex
        .map { case (v, i) => (s.subject, i.toLong, v) }
    }.toDF("subject", "ridx", "value_rs")
  }
}
