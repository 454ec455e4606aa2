package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.EdaDecompose

/** The cvxEDA kernel in its operator-at-a-time form (reference): every
  * operator allocates its output and makes its own pass, as the solver did
  * before its FISTA step became one forward and one backward sweep. The
  * sweeps must reproduce this bit for bit. */
object CvxEdaReference {
  import EdaDecompose.Result

  def cvxEdaKernel(fs: Int, tau0: Double = 2.0, tau1: Double = 0.7,
      deltaKnot: Double = 10.0, alpha: Double = 8e-4, gamma: Double = 1e-2,
      iters: Int = 1200)(y: Array[Double]): Result = {
    val n = y.length
    if (n < 8) return Result(new Array[Double](n), new Array[Double](n), y.clone())
    val delta = 1.0 / fs
    val a1 = 1.0 / math.min(tau1, tau0)
    val a0 = 1.0 / math.max(tau1, tau0)
    val den = (a1 - a0) * delta * delta
    val ar = Array(
      (a1 * delta + 2.0) * (a0 * delta + 2.0) / den,
      (2.0 * a1 * a0 * delta * delta - 8.0) / den,
      (a1 * delta - 2.0) * (a0 * delta - 2.0) / den)
    val ma = Array(1.0, 2.0, 1.0)

    // A q = p  (rows 0,1 identity; row i>=2: ar0*q_i + ar1*q_{i-1} + ar2*q_{i-2})
    def solveA(p: Array[Double]): Array[Double] = {
      val q = new Array[Double](n)
      q(0) = p(0); if (n > 1) q(1) = p(1)
      var i = 2
      while (i < n) {
        q(i) = (p(i) - ar(1) * q(i - 1) - ar(2) * q(i - 2)) / ar(0)
        i += 1
      }
      q
    }
    // A^T x = v (backward substitution)
    def solveAT(v: Array[Double]): Array[Double] = {
      val x = new Array[Double](n)
      var i = n - 1
      while (i >= 0) {
        var s = v(i)
        if (i + 1 < n && i + 1 >= 2) s -= ar(1) * x(i + 1)
        if (i + 2 < n && i + 2 >= 2) s -= ar(2) * x(i + 2)
        x(i) = if (i >= 2) s / ar(0) else s
        i -= 1
      }
      x
    }
    def applyM(q: Array[Double]): Array[Double] = {
      val out = new Array[Double](n)
      out(0) = q(0); if (n > 1) out(1) = q(1)
      var i = 2
      while (i < n) {
        out(i) = ma(0) * q(i) + ma(1) * q(i - 1) + ma(2) * q(i - 2)
        i += 1
      }
      out
    }
    def applyMT(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        var s = if (i < 2) v(i) else ma(0) * v(i)
        if (i + 1 < n && i + 1 >= 2) s += ma(1) * v(i + 1)
        if (i + 2 < n && i + 2 >= 2) s += ma(2) * v(i + 2)
        out(i) = s
        i += 1
      }
      out
    }
    def applyH(p: Array[Double]): Array[Double] = applyM(solveA(p))
    def applyHT(v: Array[Double]): Array[Double] = solveAT(applyMT(v))

    // order-1 spline basis, knots every deltaKnot seconds
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
    val knots = 0 until n by dks
    val nB = knots.length
    val off = spl.length / 2
    def applyB(l: Array[Double]): Array[Double] = {
      val out = new Array[Double](n)
      var b = 0
      while (b < nB) {
        val base = knots(b)
        var s = 0
        while (s < spl.length) {
          val i = base + s - off
          if (i >= 0 && i < n) out(i) += spl(s) * l(b)
          s += 1
        }
        b += 1
      }
      out
    }
    def applyBT(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](nB)
      var b = 0
      while (b < nB) {
        val base = knots(b)
        var acc = 0.0
        var s = 0
        while (s < spl.length) {
          val i = base + s - off
          if (i >= 0 && i < n) acc += spl(s) * v(i)
          s += 1
        }
        out(b) = acc
        b += 1
      }
      out
    }
    // trend: ones and ramp
    def applyC(d: Array[Double]): Array[Double] =
      Array.tabulate(n)(i => d(0) + d(1) * (i + 1.0) / n)
    def applyCT(v: Array[Double]): Array[Double] = {
      var s0 = 0.0; var s1 = 0.0
      var i = 0
      while (i < n) { s0 += v(i); s1 += v(i) * (i + 1.0) / n; i += 1 }
      Array(s0, s1)
    }

    // Lipschitz estimate by power iteration on the stacked operator
    var pw = Array.fill(n)(1.0)
    var lEst = 1.0
    for (_ <- 0 until 12) {
      val w = applyHT(applyH(pw))
      lEst = math.sqrt(w.map(x => x * x).sum)
      if (lEst > 0) pw = w.map(_ / math.max(lEst, 1e-12))
      else pw = Array.fill(n)(1.0)
    }
    val bNormSq = spl.map(x => x * x).sum
    val step = 1.0 / (lEst + bNormSq + n + 1.0)

    // FISTA on (p, l, d); every operator call allocates its output
    var p = new Array[Double](n)
    var l = new Array[Double](nB)
    var d = new Array[Double](2)
    var pv = p.clone(); var lv = l.clone(); var dv = d.clone()
    var pNew = new Array[Double](n); var lNew = new Array[Double](nB)
    val dNew = new Array[Double](2)
    val resid = new Array[Double](n)
    var tk = 1.0
    var it = 0
    var lastObj = Double.MaxValue
    var done = false
    while (it < iters && !done) {
      val hp = applyH(pv)
      val bl = applyB(lv)
      var i = 0
      val c0 = dv(0); val c1 = dv(1)
      while (i < n) {
        resid(i) = hp(i) + bl(i) + c0 + c1 * (i + 1.0) / n - y(i)
        i += 1
      }
      // deterministic early exit: same data -> same trajectory -> same stop
      if (it % 25 == 24) {
        var obj = 0.0
        i = 0
        while (i < n) { obj += resid(i) * resid(i); i += 1 }
        if (lastObj - obj < 1e-10 * math.max(obj, 1e-12)) done = true
        lastObj = obj
      }
      val gp = applyHT(resid)
      val gl = applyBT(resid)
      val gd = applyCT(resid)
      val tNew = (1 + math.sqrt(1 + 4 * tk * tk)) / 2
      val mom = (tk - 1) / tNew
      i = 0
      while (i < n) {
        val pn = math.max(0.0, pv(i) - step * (gp(i) + alpha))
        pNew(i) = pn
        pv(i) = pn + mom * (pn - p(i))
        i += 1
      }
      i = 0
      while (i < nB) {
        val ln = lv(i) - step * (gl(i) + gamma * lv(i))
        lNew(i) = ln
        lv(i) = ln + mom * (ln - l(i))
        i += 1
      }
      dNew(0) = dv(0) - step * gd(0); dNew(1) = dv(1) - step * gd(1)
      dv(0) = dNew(0) + mom * (dNew(0) - d(0))
      dv(1) = dNew(1) + mom * (dNew(1) - d(1))
      // swap current/new so no per-iteration allocation occurs
      val tp = p; p = pNew; pNew = tp
      val tl = l; l = lNew; lNew = tl
      d(0) = dNew(0); d(1) = dNew(1)
      tk = tNew
      it += 1
    }
    val phasic = applyH(p)
    val tonic = {
      val bl = applyB(l); val cd = applyC(d)
      Array.tabulate(n)(i => bl(i) + cd(i))
    }
    Result(phasic, p, tonic)
}
}

class EdaDecomposeSpec extends AnyFunSuite {

  private def bateman(t: Double): Double =
    if (t < 0) 0.0 else math.exp(-t / 2.0) - math.exp(-t / 0.7)

  test("cvxEDA-class decomposition separates Bateman bumps from a slow baseline") {
    val fs = 4
    val n = 480 // 2 minutes
    // baseline: 2 µS with slow linear rise to 2.5
    val tonicTrue = Array.tabulate(n)(i => 2.0 + 0.5 * i / n)
    // two Bateman-shaped SCRs at 30 s and 75 s
    val bumps = Array.tabulate(n) { i =>
      val t = i.toDouble / fs
      0.6 * bateman(t - 30) + 0.8 * bateman(t - 75)
    }
    val y = Array.tabulate(n)(i => tonicTrue(i) + bumps(i))
    val r = EdaDecompose.cvxEdaKernel(fs)(y)

    // driver is non-negative by construction
    assert(r.driver.forall(_ >= 0.0))
    // reconstruction is close
    val resid = Array.tabulate(n)(i => y(i) - r.phasic(i) - r.tonic(i))
    val rms = math.sqrt(resid.map(x => x * x).sum / n)
    assert(rms < 0.05, s"rms=$rms")
    // tonic tracks the baseline (no bump leakage beyond tolerance)
    val tonicErr = Array.tabulate(n)(i => math.abs(r.tonic(i) - tonicTrue(i)))
    assert(tonicErr.sum / n < 0.15, s"mean tonic err=${tonicErr.sum / n}")
    // phasic mass concentrates after the bump onsets
    val phasicAt = (a: Int, b: Int) => (a until b).map(r.phasic).sum
    val inBump = phasicAt(30 * fs, 45 * fs) + phasicAt(75 * fs, 90 * fs)
    val outBump = phasicAt(0, 30 * fs) + phasicAt(45 * fs, 75 * fs) + phasicAt(90 * fs, n)
    assert(inBump > 2 * math.max(outBump, 0.1), s"in=$inBump out=$outBump")
  }

  /** Independent exact solver for the kernel's objective
    *   min_{p>=0,l,d} 0.5||Hp + Bl + Cd - y||^2 + alpha 1'p + 0.5 gamma||l||^2
    * via Lawson-Hanson active-set NNLS on dense model matrices. This pins
    * the FISTA<->interior-point delta the reference's cvxopt solver would
    * exhibit — the number ARCHITECTURE.md and the q59 golden tolerance are
    * based on. Returns (phasic, tonic). */
  private def exactQpSolve(y: Array[Double], fs: Int,
      alpha: Double = 8e-4, gamma: Double = 1e-2,
      maxIter: Int = 400): (Array[Double], Array[Double]) = {
    val n = y.length
    // dense H = M A^{-1}, B (spline), C (trend) — same closed forms as the kernel
    val delta = 1.0 / fs
    val a1 = 1.0 / 0.7; val a0 = 1.0 / 2.0
    val den = (a1 - a0) * delta * delta
    val ar = Array((a1 * delta + 2.0) * (a0 * delta + 2.0) / den,
      (2.0 * a1 * a0 * delta * delta - 8.0) / den,
      (a1 * delta - 2.0) * (a0 * delta - 2.0) / den)
    def solveA(p: Array[Double]): Array[Double] = {
      val q = new Array[Double](n)
      q(0) = p(0); q(1) = p(1)
      for (i <- 2 until n) q(i) = (p(i) - ar(1) * q(i - 1) - ar(2) * q(i - 2)) / ar(0)
      q
    }
    def applyM(q: Array[Double]): Array[Double] = {
      val out = new Array[Double](n)
      out(0) = q(0); out(1) = q(1)
      for (i <- 2 until n) out(i) = q(i) + 2.0 * q(i - 1) + q(i - 2)
      out
    }
    val dks = math.max(1, math.round(10.0 / delta).toInt)
    val spl0 = ((1 until dks) ++ (dks to 1 by -1)).map(_.toDouble).toArray
    val spl = {
      val m = spl0.length
      val out = new Array[Double](2 * m - 1)
      for (i <- 0 until m; j <- 0 until m) out(i + j) += spl0(i) * spl0(j)
      val mx = out.max
      out.map(_ / mx)
    }
    val knots = (0 until n by dks).toArray
    val nB = knots.length
    val off = spl.length / 2
    val nz = nB + 2 // l then d columns after the p block
    def colH(j: Int): Array[Double] = {
      val e = new Array[Double](n); e(j) = 1.0
      applyM(solveA(e))
    }
    def colB(b: Int): Array[Double] = {
      val out = new Array[Double](n)
      for (s <- spl.indices) {
        val i = knots(b) + s - off
        if (i >= 0 && i < n) out(i) += spl(s)
      }
      out
    }
    val cols: Array[Array[Double]] = // full design matrix E = [H | B | C]
      Array.tabulate(n)(colH) ++ Array.tabulate(nB)(colB) ++
        Array(Array.fill(n)(1.0), Array.tabulate(n)(i => (i + 1.0) / n))
    val reg = Array.tabulate(n + nz)(j => if (j >= n && j < n + nB) gamma else 0.0)
    val lin = Array.tabulate(n + nz)(j => if (j < n) alpha else 0.0)

    def solveFree(free: Array[Int]): Array[Double] = { // normal eqs + Gauss
      val k = free.length
      val a = Array.ofDim[Double](k, k + 1)
      for (r <- 0 until k; c <- 0 until k) {
        var s = 0.0
        val cr = cols(free(r)); val cc = cols(free(c))
        for (i <- 0 until n) s += cr(i) * cc(i)
        if (free(r) == free(c)) s += reg(free(r))
        a(r)(c) = s
      }
      for (r <- 0 until k) {
        var s = 0.0
        val cr = cols(free(r))
        for (i <- 0 until n) s += cr(i) * y(i)
        a(r)(k) = s - lin(free(r))
      }
      for (pc <- 0 until k) { // partial-pivot elimination
        var mr = pc
        for (r <- pc + 1 until k) if (math.abs(a(r)(pc)) > math.abs(a(mr)(pc))) mr = r
        val t = a(pc); a(pc) = a(mr); a(mr) = t
        for (r <- pc + 1 until k) {
          val f = a(r)(pc) / a(pc)(pc)
          for (c <- pc to k) a(r)(c) -= f * a(pc)(c)
        }
      }
      val x = new Array[Double](k)
      for (r <- k - 1 to 0 by -1) {
        var s = a(r)(k)
        for (c <- r + 1 until k) s -= a(r)(c) * x(c)
        x(r) = s / a(r)(r)
      }
      x
    }

    // Lawson-Hanson: l/d always free; p enters/leaves by KKT sign
    val z = new Array[Double](n + nz)
    val inF = Array.fill(n + nz)(false)
    for (j <- n until n + nz) inF(j) = true
    def residual(): Array[Double] = {
      val r = y.map(-_)
      for (j <- 0 until n + nz if inF(j) || z(j) != 0.0) {
        val cj = cols(j); val zj = z(j)
        if (zj != 0.0) for (i <- 0 until n) r(i) += cj(i) * zj
      }
      r
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val r = residual()
      var best = -1; var bestW = 1e-8
      for (j <- 0 until n if !inF(j)) {
        var g = lin(j)
        val cj = cols(j)
        for (i <- 0 until n) g += cj(i) * r(i)
        if (-g > bestW) { bestW = -g; best = j }
      }
      if (best < 0) converged = true
      else {
        inF(best) = true
        var feasible = false
        while (!feasible) {
          val free = (0 until n + nz).filter(inF).toArray
          val zf = solveFree(free)
          val negs = free.indices.filter(k => free(k) < n && zf(k) <= 0.0)
          if (negs.isEmpty) {
            for (k <- free.indices) z(free(k)) = zf(k)
            feasible = true
          } else {
            val stepA = negs.map { k =>
              val j = free(k); z(j) / (z(j) - zf(k))
            }.min
            for (k <- free.indices) {
              val j = free(k)
              z(j) = z(j) + stepA * (zf(k) - z(j))
            }
            for (j <- 0 until n if inF(j) && z(j) <= 1e-12) { inF(j) = false; z(j) = 0.0 }
          }
        }
      }
      iter += 1
    }
    assert(converged, s"active-set solver did not converge in $maxIter iterations")

    val pQp = z.slice(0, n)
    val phasicQp = applyM(solveA(pQp))
    val tonicQp = {
      val out = new Array[Double](n)
      for (b <- 0 until nB) {
        val cb = colB(b)
        for (i <- 0 until n) out(i) += cb(i) * z(n + b)
      }
      for (i <- 0 until n) out(i) += z(n + nB) + z(n + nB + 1) * (i + 1.0) / n
      out
    }
    (phasicQp, tonicQp)
  }

  test("FISTA solution is within quantified distance of the exact QP optimum") {
    val fs = 4
    val n = 480
    val tonicTrue = Array.tabulate(n)(i => 2.0 + 0.5 * i / n)
    val y = Array.tabulate(n) { i =>
      val t = i.toDouble / fs
      tonicTrue(i) + 0.6 * bateman(t - 30) + 0.8 * bateman(t - 75)
    }
    val (phasicQp, tonicQp) = exactQpSolve(y, fs)
    val fista = EdaDecompose.cvxEdaKernel(fs)(y)
    val dPhasic = (0 until n).map(i => math.abs(fista.phasic(i) - phasicQp(i))).max
    val dTonic = (0 until n).map(i => math.abs(fista.tonic(i) - tonicQp(i))).max
    info(f"max|phasic_FISTA - phasic_QP| = $dPhasic%.2e, max|tonic delta| = $dTonic%.2e")
    // Measured at default iters=1200: phasic 3.3e-2, tonic 7.9e-3 (scaling:
    // 8.2e-2/3.5e-2 at 400 iters; early-exit plateau 1.8e-2/6.9e-3 by
    // 3600). Asserted with modest headroom so solver-parameter drift is
    // caught while fp noise is not.
    assert(dPhasic < 0.05, s"phasic delta $dPhasic")
    assert(dTonic < 0.02, s"tonic delta $dTonic")
  }

  test("FISTA-QP delta holds on a second, longer fixture-shaped trace") {
    // Round-7 verdict: the 3.3e-2/7.9e-3 bound rested on ONE clean
    // 480-sample 2-bump trace. This trace is shaped like the golden-input
    // recordings the q59 oracle actually solves: longer (21 min), a dozen
    // irregular SCRs of varying amplitude, a curved (non-basis-aligned)
    // drift, and a deterministic sub-1% noise floor. Both numbers are
    // recorded in FIXTURES.md.
    val fs = 4
    val n = 5120
    val onsets = Seq(35.0, 110.0, 170.0, 260.0, 330.0, 415.0, 520.0, 600.0,
      690.0, 800.0, 910.0, 1050.0, 1150.0, 1230.0)
    val y = Array.tabulate(n) { i =>
      val t = i.toDouble / fs
      val scrs = onsets.zipWithIndex.map { case (t0, k) =>
        (0.3 + 0.07 * (k % 5)) * bateman(t - t0)
      }.sum
      // deterministic pseudo-noise via a Weyl sequence (no RNG in specs)
      val noise = 0.008 * (((i * 2654435761L) % 1000L) / 1000.0 - 0.5)
      2.0 + 0.8 * i / n + 0.3 * math.sin(math.Pi * i.toDouble / n) + scrs + noise
    }
    val (phasicQp, tonicQp) = exactQpSolve(y, fs)
    val fista = EdaDecompose.cvxEdaKernel(fs)(y)
    val dPhasic = (0 until n).map(i => math.abs(fista.phasic(i) - phasicQp(i))).max
    val dTonic = (0 until n).map(i => math.abs(fista.tonic(i) - tonicQp(i))).max
    info(f"long trace: max|dPhasic| = $dPhasic%.2e, max|dTonic| = $dTonic%.2e")
    assert(dPhasic < 0.1, s"phasic delta $dPhasic")
    assert(dTonic < 0.05, s"tonic delta $dTonic")
  }

  test("the two-sweep FISTA step is bit-identical to the operator-at-a-time form") {
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    // deterministic Weyl-sequence noise over a drifting baseline with SCRs
    def trace(n: Int, fs: Int): Array[Double] = Array.tabulate(n) { i =>
      val t = i.toDouble / fs
      2.0 + 0.4 * i / n + 0.5 * bateman(t - 0.2 * n / fs) + 0.3 * bateman(t - 0.6 * n / fs) +
        0.01 * (((i * 2654435761L) % 1000L) / 1000.0 - 0.5)
    }
    val bump = Array.tabulate(480) { i =>
      val t = i.toDouble / 4
      2.0 + 0.5 * i / 480 + 0.6 * bateman(t - 30) + 0.8 * bateman(t - 75)
    }
    val cases = Seq(
      ("n=8 fs=4", 4, trace(8, 4)),
      ("n=9 fs=4", 4, trace(9, 4)),
      ("n=1001 fs=4", 4, trace(1001, 4)),
      // at fs=32 one spline basis spans 1277 samples, past the recording
      ("n=700 fs=32", 32, trace(700, 32)),
      ("n=1001 fs=32", 32, trace(1001, 32)),
      ("n=2100 fs=700", 700, trace(2100, 700)),
      // both take the early exit
      ("constant", 4, Array.fill(600)(3.25)),
      ("zero", 4, new Array[Double](600)),
      ("Bateman", 4, bump))
    for ((name, fs, y) <- cases) {
      val want = CvxEdaReference.cvxEdaKernel(fs)(y)
      val got = EdaDecompose.cvxEdaKernel(fs)(y)
      assert(bits(got.phasic) == bits(want.phasic), s"phasic differs: $name")
      assert(bits(got.driver) == bits(want.driver), s"driver differs: $name")
      assert(bits(got.tonic) == bits(want.tonic), s"tonic differs: $name")
    }
    // a short budget stops mid-trajectory, where no early exit hides a drift
    val y = trace(1001, 4)
    for (iters <- Seq(1, 2, 24, 25, 26)) {
      val want = CvxEdaReference.cvxEdaKernel(4, iters = iters)(y)
      val got = EdaDecompose.cvxEdaKernel(4, iters = iters)(y)
      assert(bits(got.driver) == bits(want.driver), s"driver differs at iters=$iters")
      assert(bits(got.tonic) == bits(want.tonic), s"tonic differs at iters=$iters")
    }
  }
}
