package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.KernelRunner

/** cvxEDA-class phasic/tonic decomposition (SURVEY K9; model of Greco et
  * al. 2015 as used by reference EDA.py `_cvxEDA`, EDA.py:520-688).
  *
  * Same generative model as the reference — Bateman ARMA smooth-muscle
  * driver (q through the discretized (a1,a0) biexponential), order-1
  * B-spline tonic basis with 10 s knots, linear drift — but solved with a
  * DETERMINISTIC fixed-iteration accelerated projected-gradient (FISTA)
  * instead of a QP interior-point solver (SURVEY §6 risk plan option b):
  *
  *   min_{p>=0, l, d}  0.5*|| M A^{-1} p + B l + C d - y ||^2
  *                     + alpha * 1^T p + 0.5*gamma*||l||^2
  *
  * A is banded lower-triangular (forward substitution), M its MA
  * counterpart, so every operator application is O(n). Bounded iteration
  * count and fixed step size keep the kernel bit-deterministic across
  * runs and partitionings.
  */
object EdaDecompose {

  case class Result(phasic: Array[Double], driver: Array[Double],
      tonic: Array[Double])

  /** One-recording decomposition kernel.
    *
    * Default iteration budget: 1200 puts the solution within ~3e-2 (phasic)
    * / ~8e-3 (tonic) max-abs of the exact QP optimum on the spec's Bateman
    * trace (EdaDecomposeSpec quantifies this against a dense active-set
    * solver); the deterministic early exit usually stops well before the
    * cap on converged recordings.
    *
    * Each FISTA step is two sweeps over the recording on buffers allocated
    * once per solve: a forward sweep (A^-1 fused with M, the B spline at
    * each sample, the residual, and the B^T, C^T and objective sums) and a
    * backward sweep (M^T, A^-T and the projected p step). Every sum adds
    * its terms in ascending sample order, exactly as the operator-at-a-time
    * form did, so the output is bit-identical to it (EdaDecomposeSpec keeps
    * that form as its reference). */
  def cvxEdaKernel(fs: Int, tau0: Double = 2.0, tau1: Double = 0.7,
      deltaKnot: Double = 10.0, alpha: Double = 8e-4, gamma: Double = 1e-2,
      iters: Int = 1200)(y: Array[Double]): Result = {
    val n = y.length
    if (n < 8) return Result(new Array[Double](n), new Array[Double](n), y.clone())
    val delta = 1.0 / fs
    val a1 = 1.0 / math.min(tau1, tau0)
    val a0 = 1.0 / math.max(tau1, tau0)
    val den = (a1 - a0) * delta * delta
    // A q = p  (rows 0,1 identity; row i>=2: ar0*q_i + ar1*q_{i-1} + ar2*q_{i-2});
    // M is its MA counterpart with taps (ma0, ma1, ma2)
    val ar0 = (a1 * delta + 2.0) * (a0 * delta + 2.0) / den
    val ar1 = (2.0 * a1 * a0 * delta * delta - 8.0) / den
    val ar2 = (a1 * delta - 2.0) * (a0 * delta - 2.0) / den
    val ma0 = 1.0; val ma1 = 2.0; val ma2 = 1.0

    // H = M A^-1, one forward pass
    def applyH(p: Array[Double], out: Array[Double]): Unit = {
      var q1 = p(1); var q2 = p(0) // q_{i-1}, q_{i-2}
      out(0) = p(0); out(1) = p(1)
      var i = 2
      while (i < n) {
        val q = (p(i) - ar1 * q1 - ar2 * q2) / ar0
        out(i) = ma0 * q + ma1 * q1 + ma2 * q2
        q2 = q1; q1 = q
        i += 1
      }
    }
    // H^T = A^-T M^T, one backward pass: row i of M^T v, then row i of the
    // backward substitution A^T x = M^T v given x_{i+1} and x_{i+2}
    def mtAt(v: Array[Double], i: Int): Double = {
      var s = if (i < 2) v(i) else ma0 * v(i)
      if (i + 1 < n && i + 1 >= 2) s += ma1 * v(i + 1)
      if (i + 2 < n && i + 2 >= 2) s += ma2 * v(i + 2)
      s
    }
    def atStep(s0: Double, i: Int, x1: Double, x2: Double): Double = {
      var s = s0
      if (i + 1 < n && i + 1 >= 2) s -= ar1 * x1
      if (i + 2 < n && i + 2 >= 2) s -= ar2 * x2
      if (i >= 2) s / ar0 else s
    }
    def applyHT(v: Array[Double], out: Array[Double]): Unit = {
      var x1 = 0.0; var x2 = 0.0 // x_{i+1}, x_{i+2}
      var i = n - 1
      while (i >= 0) {
        val x = atStep(mtAt(v, i), i, x1, x2)
        out(i) = x
        x2 = x1; x1 = x
        i -= 1
      }
    }

    // order-1 spline basis, knots every deltaKnot seconds: basis b covers
    // samples b*dks - off until b*dks - off + spl.length
    val dks = math.max(1, math.round(deltaKnot / delta).toInt)
    val tri0 = (1 until dks).map(_.toDouble) ++ (dks to 1 by -1).map(_.toDouble)
    val spl0 = tri0.toArray
    val spl = {
      val m = spl0.length
      val out = new Array[Double](2 * m - 1)
      for (i <- 0 until m; j <- 0 until m) out(i + j) += spl0(i) * spl0(j)
      val mx = out.max
      out.map(_ / mx)
    }
    val nB = (n + dks - 1) / dks
    val off = spl.length / 2
    // the bases covering sample i are lo(i) to hi(i); both only grow with i
    def hiAt(i: Int, hi: Int): Int = {
      var b = hi
      while (b + 1 < nB && (b + 1) * dks - off <= i) b += 1
      b
    }
    def loAt(i: Int, lo: Int): Int = {
      var b = lo
      while (b * dks - off + spl.length <= i) b += 1
      b
    }
    def applyB(l: Array[Double], i: Int, lo: Int, hi: Int): Double = {
      var acc = 0.0
      var b = lo
      while (b <= hi) { acc += spl(i - b * dks + off) * l(b); b += 1 }
      acc
    }

    // Lipschitz estimate by power iteration on the stacked operator
    var pw = Array.fill(n)(1.0)
    var lEst = 1.0
    val hpw = new Array[Double](n)
    for (_ <- 0 until 12) {
      val w = new Array[Double](n)
      applyH(pw, hpw); applyHT(hpw, w)
      lEst = math.sqrt(w.map(x => x * x).sum)
      if (lEst > 0) pw = w.map(_ / math.max(lEst, 1e-12))
      else pw = Array.fill(n)(1.0)
    }
    val bNormSq = spl.map(x => x * x).sum
    val step = 1.0 / (lEst + bNormSq + n + 1.0)

    // FISTA on (p, l, d)
    var p = new Array[Double](n)
    var l = new Array[Double](nB)
    val d = new Array[Double](2)
    val pv = p.clone(); val lv = l.clone(); val dv = d.clone()
    var pNew = new Array[Double](n); var lNew = new Array[Double](nB)
    val dNew = new Array[Double](2)
    val resid = new Array[Double](n)
    val gl = new Array[Double](nB)
    var tk = 1.0
    var it = 0
    var lastObj = Double.MaxValue
    var done = false
    while (it < iters && !done) {
      // forward sweep: residual H pv + B lv + C dv - y, and the B^T, C^T
      // and objective sums over it
      val c0 = dv(0); val c1 = dv(1)
      val withObj = it % 25 == 24
      var obj = 0.0
      var gd0 = 0.0; var gd1 = 0.0
      java.util.Arrays.fill(gl, 0.0)
      var q1 = 0.0; var q2 = 0.0 // (A^-1 pv)_{i-1}, _{i-2}
      var lo = 0; var hi = 0
      var i = 0
      while (i < n) {
        val q = if (i < 2) pv(i) else (pv(i) - ar1 * q1 - ar2 * q2) / ar0
        val hp = if (i < 2) q else ma0 * q + ma1 * q1 + ma2 * q2
        q2 = q1; q1 = q
        hi = hiAt(i, hi); lo = loAt(i, lo)
        val r = hp + applyB(lv, i, lo, hi) + c0 + c1 * (i + 1.0) / n - y(i)
        resid(i) = r
        if (withObj) obj += r * r
        var b = lo
        while (b <= hi) { gl(b) += spl(i - b * dks + off) * r; b += 1 }
        gd0 += r; gd1 += r * (i + 1.0) / n
        i += 1
      }
      // deterministic early exit: same data -> same trajectory -> same stop
      if (withObj) {
        if (lastObj - obj < 1e-10 * math.max(obj, 1e-12)) done = true
        lastObj = obj
      }
      val tNew = (1 + math.sqrt(1 + 4 * tk * tk)) / 2
      val mom = (tk - 1) / tNew
      // backward sweep: p gradient H^T resid, and the projected p step
      var x1 = 0.0; var x2 = 0.0
      i = n - 1
      while (i >= 0) {
        val gp = atStep(mtAt(resid, i), i, x1, x2)
        x2 = x1; x1 = gp
        val pn = math.max(0.0, pv(i) - step * (gp + alpha))
        pNew(i) = pn
        pv(i) = pn + mom * (pn - p(i))
        i -= 1
      }
      i = 0
      while (i < nB) {
        val ln = lv(i) - step * (gl(i) + gamma * lv(i))
        lNew(i) = ln
        lv(i) = ln + mom * (ln - l(i))
        i += 1
      }
      dNew(0) = dv(0) - step * gd0; dNew(1) = dv(1) - step * gd1
      dv(0) = dNew(0) + mom * (dNew(0) - d(0))
      dv(1) = dNew(1) + mom * (dNew(1) - d(1))
      // swap current/new so no per-iteration allocation occurs
      val tp = p; p = pNew; pNew = tp
      val tl = l; l = lNew; lNew = tl
      d(0) = dNew(0); d(1) = dNew(1)
      tk = tNew
      it += 1
    }
    val phasic = new Array[Double](n)
    applyH(p, phasic)
    val tonic = new Array[Double](n)
    var lo = 0; var hi = 0
    var i = 0
    while (i < n) {
      hi = hiAt(i, hi); lo = loAt(i, lo)
      tonic(i) = applyB(l, i, lo, hi) + (d(0) + d(1) * (i + 1.0) / n)
      i += 1
    }
    Result(phasic, p, tonic)
  }

  /** Default solver chunk: 2^16 samples = 4.5 h at 4 Hz. The 1200-iteration
    * O(n) FISTA solve on one chunk is a bounded ~0.5 s task; a multi-day
    * recording becomes many such tasks instead of one unbounded solve
    * (SURVEY §2.9 K9: "segment long recordings into solver-sized chunks"). */
  val DefaultChunkLen: Long = 1L << 16

  /** Default chunk overlap: 240 s of signal. The Bateman smooth-muscle
    * impulse response decays as e^(-t/tau0) with tau0 = 2 s (e^-120 at the
    * core boundary); the order-1 tonic spline basis has 2*deltaKnot = 20 s
    * support; the per-chunk linear drift refits locally. EdaDecomposeSpec
    * quantifies the chunked-vs-whole delta on a forced-split long trace. */
  def defaultOverlap(fs: Int): Int = 240 * fs

  /** Frame-level decomposition: (subject, idx, phasic, driver, tonic).
    * Recordings LONGER than `chunkLen` are solved as independent
    * overlapping chunks — a bounded APPROXIMATION of the whole-recording
    * solve (max-abs delta quantified by BucketedKernelSpec's forced-split
    * case, ~7e-2 on the spec trace); recordings within one chunk solve
    * whole, bitwise identical to [[cvxEdaKernel]].
    *
    * Runs on the chunked halo path (the 100 TB posture): each recording is
    * range-bucketed into `chunkLen`-sample solver chunks with `overlap`
    * halo samples on each side, each chunk solved independently, and only
    * chunk-core outputs emitted. The q108 oracle query certifies the
    * genuinely-split path against a chunk-exact golden.
    *
    * The Bateman-support halo grows with fs while `chunkLen` does not, so
    * the chunk length is raised (minimally) to keep `overlap < chunkLen` —
    * the slice runner's contract — instead of throwing at fs >= 274;
    * callers that pass a consistent (chunkLen, overlap) are untouched. */
  def decompose(signal: DataFrame, fs: Int,
      chunkLen: Long = DefaultChunkLen, overlap: Int = -1): DataFrame = {
    val ov = if (overlap >= 0) overlap else defaultOverlap(fs)
    val len = math.max(chunkLen, ov + 1L)
    val spark = signal.sparkSession
    import spark.implicits._
    KernelRunner.perSlice(signal, Some("value"), len, ov) { s =>
      val r = cvxEdaKernel(fs)(s.value)
      s.core.iterator.map(i => (s.subject, s.idx(i), r.phasic(i), r.driver(i), r.tonic(i)))
    }.toDF("subject", "idx", "phasic", "driver", "tonic")
  }
}
