package graft.functions

import org.apache.commons.math3.special.Erf

/** C5 Van Vleck dequantisation kernels
  * (/root/reference/src/van_vleck.rs:308-748).
  *
  * Pure, deterministic f64 math — safe under Spark task retries. The
  * legacy MWA correlator quantises to 7 levels (±0.5..±6.5); these kernels
  * invert the quantisation bias:
  *
  *  - autos: solve σ̂(σ) = s by Newton's method, where
  *    σ̂(σ) = sqrt(49 − Σ_{k=0}^{6} 2(k+0.5)·erf((k+0.5)/(σ√2)))
  *    (van_vleck.rs:368-375; derivative 384-392; Newton loop 333-349 with
  *    tol 1e-12 and a guess>0.5 divergence guard);
  *  - crosses: invert κ̂(ρ) via Newton + Simpson (n=10) integration of the
  *    bivariate-normal pdf over the 7-level quantiser grid
  *    (pdf 634-656, simpsons_rule 661-682, van_vleck_cross_int 703-732).
  */
object VanVleckKernel {

  private val SqrtTau = 2.5066282746310002 // sqrt(2*pi), as in the reference

  /** σ̂(σ): expected quantised std dev given true std dev. */
  def sighat(sigma: Double): Double = {
    var sum = 0.0
    var k = 0
    while (k <= 6) {
      val k_ = k + 0.5
      sum += 2.0 * k_ * Erf.erf(k_ / (sigma * math.sqrt(2.0)))
      k += 1
    }
    math.sqrt(49.0 - sum)
  }

  /** dσ̂/dσ. */
  def sighatPrime(sigma: Double): Double = {
    val s = sigma * sigma
    var sum = 0.0
    var k = 0
    while (k <= 6) {
      val k2 = (k + 0.5) * (k + 0.5)
      sum += 2.0 * k2 * math.exp(-k2 / (2.0 * s)) / (SqrtTau * s)
      k += 1
    }
    sum / sighat(sigma)
  }

  /** Invert σ̂ by Newton; returns the input when not converged (mirrors
    * van_vleck_autos' map_or fallback, van_vleck.rs:352-361).
    */
  def vanVleckAuto(s: Double): Double = {
    val tol = 1e-12
    var guess = s
    var delta = sighat(guess) - s
    var count = 0
    while (math.abs(delta) > tol && guess > 0.5) {
      guess -= delta / sighatPrime(guess)
      delta = sighat(guess) - s
      count += 1
      if (count > 100) return s
    }
    guess
  }

  /** Bivariate-normal pdf sum over the quantiser grid at correlation rho;
    * x/y are the (k+0.5)/σ grids (van_vleck.rs:634-656).
    *
    * Evaluated as the direct 49-term sum in ROW-MAJOR (x-outer) order
    * with cosh spelled as paired exps — term-for-term and
    * operation-for-operation the order of the DuckDB oracle twin
    * (graft.oracle.Oracles.c5PdfSql), so kernel and oracle agree to the
    * LAST ULP across the whole frame, not merely to 6 dp away from
    * rounding boundaries. A separable/geometric-recurrence evaluation
    * (the reference's own derivation, van_vleck.rs:600-632) costs ~28
    * exp instead of 98 but produces different last-ulp rounding; since
    * the cross kernel runs once per DISTINCT (κ̂, σx, σy) triple behind
    * a memo cache, bit-parity is worth strictly more than the constant
    * factor here.
    */
  def pdf(x: Array[Double], y: Array[Double], rho: Double): Double = {
    val d = math.max(1.0 - rho * rho, 1e-20)
    var r = 0.0
    var ij = 0
    val n = x.length * y.length
    while (ij < n) {
      val xi = x(ij / y.length)
      val yk = y(ij % y.length)
      val a = xi * yk * rho / d
      val b = (xi * xi + yk * yk) / (2.0 * d)
      r += math.exp(a - b) + math.exp(-a - b)
      ij += 1
    }
    r / (math.Pi * math.sqrt(d))
  }

  /** Simpson's rule for ∫_0^rho pdf dρ with n=10 intervals
    * (corrcorrect_simp, van_vleck.rs:692-696) — accumulated in ascending
    * si order, mirroring the oracle's sequential fold exactly.
    */
  def corrcorrectSimp(rho: Double, x: Array[Double],
                      y: Array[Double]): Double = {
    val n = 10
    val h = rho / n
    var sum = 0.0
    var si = 0
    while (si <= n) {
      val w =
        if (si == 0 || si == n) 1.0 else if (si % 2 == 1) 4.0 else 2.0
      sum += w * pdf(x, y, si * h)
      si += 1
    }
    sum * h / 3.0
  }

  /** Invert κ̂ for one cross-correlation component; returns khat on any
    * guard failure (mirrors van_vleck_crosses_int's unwrap_or,
    * van_vleck.rs:736-748).
    *
    * Iteration cap: at 100 iterations the cell is abandoned to khat,
    * as the reference does (van_vleck.rs:745).
    */
  def vanVleckCrossInt(khat: Double, sigmaX: Double,
                       sigmaY: Double): Double = {
    if (sigmaX <= 0.0 || sigmaY <= 0.0) return khat
    val sign = math.signum(khat)
    val k = math.abs(khat)
    val x = Array.tabulate(7)(i => (i + 0.5) / sigmaX)
    val y = Array.tabulate(7)(i => (i + 0.5) / sigmaY)
    // Per-solve product tables: the pdf term's factors xi·yk and
    // xi²+yk² are ρ-independent, and the Newton loop evaluates the
    // pdf ~12× per iteration (11 Simpson nodes + the derivative) —
    // hoisting them out of the per-ρ loop removes 2 multiplies, 1 add
    // and the ij→(i,j) div/mod per term WITHOUT touching rounding:
    // a = ((xi·yk)·ρ)/d and b = (xi²+yk²)/(2d) associate exactly as
    // the reference-order [[pdf]] writes them, so every partial is the
    // same IEEE double (parity pinned bitwise by VanVleckKernelSpec's
    // fast-vs-reference grid).
    val xy = new Array[Double](49)
    val x2y2 = new Array[Double](49)
    var ij0 = 0
    while (ij0 < 49) {
      val xi = x(ij0 / 7)
      val yk = y(ij0 % 7)
      xy(ij0) = xi * yk
      x2y2(ij0) = xi * xi + yk * yk
      ij0 += 1
    }
    // [[pdf]] with the hoisted tables — identical op order per term.
    def pdfP(rho: Double): Double = {
      val d = math.max(1.0 - rho * rho, 1e-20)
      val d2 = 2.0 * d
      var r = 0.0
      var ij = 0
      while (ij < 49) {
        val a = xy(ij) * rho / d
        val b = x2y2(ij) / d2
        r += math.exp(a - b) + math.exp(-a - b)
        ij += 1
      }
      r / (math.Pi * math.sqrt(d))
    }
    // [[corrcorrectSimp]] over pdfP — same ascending-si fold.
    def simpP(rho: Double): Double = {
      val h = rho / 10
      var sum = 0.0
      var si = 0
      while (si <= 10) {
        val w =
          if (si == 0 || si == 10) 1.0 else if (si % 2 == 1) 4.0 else 2.0
        sum += w * pdfP(si * h)
        si += 1
      }
      sum * h / 3.0
    }
    val tol = 1e-12
    var guess = k / (sigmaX * sigmaY)
    if (guess < 0.0 || guess >= 1.0) return khat
    var delta = simpP(guess) - k
    var count = 0
    // Escape guard: a Newton step leaving ρ ∈ [0, 1) fails to khat
    // IMMEDIATELY. Inside [0,1) every pdf exponent is ≤ 0 (the quadratic
    // form −(x−ρy)²-style is negative definite), so the whole iteration
    // stays in finite, smoothly-rounding arithmetic and engines agree to
    // the last ulp; past 1 the d=1e-20 floor amplifies single-ulp exp()
    // differences into divergent chaotic trajectories no two libm
    // implementations replay identically. The reference reaches the same
    // khat fallback for such cells via its 100-iteration cap
    // (van_vleck.rs:736-748); the guard short-circuits the burn.
    // !(…≤tol) keeps a NaN δ iterating rather than exiting with garbage.
    while (!(math.abs(delta) <= tol)) {
      val step = guess - delta / pdfP(guess)
      if (!(step >= 0.0 && step < 1.0)) return khat
      guess = step
      delta = simpP(guess) - k
      count += 1
      if (count > 100) return khat
    }
    sign * guess * sigmaX * sigmaY
  }
}
