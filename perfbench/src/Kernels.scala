package perfbench

import java.util.SplittableRandom

import graft.functions.{AdcScoreKernel, Iau2006, SumThresholdKernel, VanVleckKernel}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

/** The kernel tier: each hot kernel called directly on the JVM, with
  * no Spark, over fixed seeded arrays after a warm-up. The Van Vleck
  * kernel is called as `VanVleckKernel`, so the program's memo is not
  * in the path. Each result is the median ns per call (per cell for
  * SumThreshold) over `Reps` timed passes, plus the pass's operation
  * count.
  */
object Kernels {
  final case class Result(name: String, ns: Double, ops: Long,
                          opUnit: String)

  private val Reps = 5
  private var sink = 0.0

  private def time(reps: Int)(pass: => Double): Double = {
    sink += pass // warm-up
    val ns = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble
    }.sorted
    ns(ns.length / 2)
  }

  def run(seed: Long): Seq[Result] = {
    val rnd = new SplittableRandom(seed)

    // Van Vleck cross: κ̂ at ρ ~ N(0, 0.05) inside σ ∈ [1.2, 2.5]
    val nCross = 600
    val cx = Array.fill(nCross) {
      val sx = 1.2 + 1.3 * rnd.nextDouble()
      val sy = 1.2 + 1.3 * rnd.nextDouble()
      (rnd.nextGaussian() * 0.05 * sx * sy, sx, sy)
    }
    val crossNs = time(Reps) {
      var s = 0.0
      cx.foreach { case (k, x, y) =>
        s += VanVleckKernel.vanVleckCrossInt(k, x, y) }
      s
    } / nCross

    // Van Vleck auto: σ̂ across the same range
    val nAuto = 4000
    val ax = Array.fill(nAuto)(1.2 + 1.3 * rnd.nextDouble())
    val autoNs = time(Reps) {
      var s = 0.0
      ax.foreach(v => s += VanVleckKernel.vanVleckAuto(v))
      s
    } / nAuto

    // SumThreshold: one baseline's (time × channel) amplitude matrix
    // with a 2% narrowband RFI share
    val (nt, nc) = (32, 512)
    val amp = Array.fill(nt, nc)(math.abs(rnd.nextGaussian()) * 100)
    (0 until nc / 50).foreach { _ =>
      val c = rnd.nextInt(nc)
      (0 until nt).foreach(t => amp(t)(c) *= 30)
    }
    val none = Array.fill(nt, nc)(false)
    val stNs = time(Reps) {
      SumThresholdKernel.flagMatrix(amp, none, 6.0 * 100)
        .map(_.count(identity)).sum.toDouble
    } / (nt * nc)

    // IAU-2006 apparent-place partial UVW: one call per (t, antenna)
    val nUvw = 2000
    val ux = Array.fill(nUvw)((Gen.GpsTime + rnd.nextInt(3600).toDouble,
      rnd.nextDouble() * 1200 - 600, rnd.nextDouble() * 1200 - 600))
    val lon = math.toRadians(116.67)
    val lat = math.toRadians(-26.70)
    val ra = math.toRadians(Gen.PhaseRaDeg)
    val dec = math.toRadians(Gen.PhaseDecDeg)
    val uvwNs = time(Reps) {
      var s = 0.0
      ux.foreach { case (g, e, n) =>
        s += Iau2006.partUvwApparent06At(g, lon, lat, ra, dec, 0.0, e, n,
          377.0)._1
      }
      s
    } / nUvw

    // ADC score: residual form (cell dot + m subspace dots), 64 dims
    val (m, sub, nCodes, nCells) = (8, 8, 16, 64)
    val books = Array.fill(m, nCodes, sub)(rnd.nextGaussian())
    val cents = Array.fill(nCells, m * sub)(rnd.nextGaussian())
    val kernel = new AdcScoreKernel(books, cents, sub, 1.0e6)
    val nAdc = 20000
    val qs = Array.fill(16)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(m * sub)(rnd.nextGaussian())))
    val cand = Array.fill(nAdc)((rnd.nextInt(nCells),
      Array.fill(m)(rnd.nextInt(nCodes))))
    val adcNs = time(Reps) {
      var s = 0.0
      var i = 0
      while (i < nAdc) {
        val (cell, codes) = cand(i)
        s += kernel.score(qs(i & 15), cell, codes)
        i += 1
      }
      s
    } / nAdc

    Seq(
      Result("functions.vv_cross_ns", crossNs, nCross, "calls"),
      Result("functions.vv_auto_ns", autoNs, nAuto, "calls"),
      Result("functions.sumthreshold_ns_per_cell", stNs, nt.toLong * nc,
        "cells"),
      Result("functions.iau2006_uvw_ns", uvwNs, nUvw, "calls"),
      Result("functions.adc_score_ns", adcNs,
        nAdc.toLong * (m + 1) * sub, "multiply-adds"))
  }
}
