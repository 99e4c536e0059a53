package graft

import graft.functions.VanVleckKernel._
import org.scalatest.funsuite.AnyFunSuite

/** Kernel-exact numerics against the reference's public test vectors
  * (σ̂/σ/σ̂' tables at /root/reference/src/van_vleck.rs:400-465, generated
  * from pyuvdata — public BSD test data).
  */
class VanVleckKernelSpec extends AnyFunSuite {

  import graft.functions.VanVleckVectors.{sighats, sigmas, sighatsPrime}

  test("sighat matches reference vectors") {
    sigmas.zip(sighats).foreach { case (s, expect) =>
      assert(math.abs(sighat(s) - expect) < 1e-10,
        s"sighat($s) = ${sighat(s)} != $expect")
    }
  }

  test("sighat_prime matches reference vectors") {
    sigmas.zip(sighatsPrime).foreach { case (s, expect) =>
      assert(math.abs(sighatPrime(s) - expect) < 1e-10)
    }
  }

  test("vanVleckAuto inverts sighat to reference sigmas") {
    sighats.zip(sigmas).foreach { case (h, expect) =>
      assert(math.abs(vanVleckAuto(h) - expect) < 1e-8,
        s"auto($h) = ${vanVleckAuto(h)} != $expect")
    }
  }

  test("vanVleckAuto below divergence guard returns input") {
    assert(vanVleckAuto(0.3) == 0.3)
  }

  test("cross kernel: kappa roundtrip") {
    // forward: khat = corrcorrectSimp(rho); inverse must recover
    // rho*sx*sy within tolerance
    val (sx, sy) = (1.8, 1.6)
    val x = Array.tabulate(7)(i => (i + 0.5) / sx)
    val y = Array.tabulate(7)(i => (i + 0.5) / sy)
    for (rho <- Seq(0.05, 0.2, 0.5)) {
      val khat = corrcorrectSimp(rho, x, y)
      val kappa = vanVleckCrossInt(khat, sx, sy)
      assert(math.abs(kappa - rho * sx * sy) < 1e-6,
        s"rho=$rho kappa=$kappa expect=${rho * sx * sy}")
    }
  }

  test("cross kernel: |rho| >= 1 guard returns khat") {
    assert(vanVleckCrossInt(5.0, 1.0, 1.0) == 5.0)
  }

  /** The r22 fast path (per-solve xi·yk / xi²+yk² tables hoisted out
    * of the Newton loop) must be BIT-identical to the reference-order
    * evaluation through the unchanged public [[pdf]] /
    * [[corrcorrectSimp]] — this is the verbatim pre-r22 loop.
    */
  private def referenceCrossInt(khat: Double, sigmaX: Double,
                                sigmaY: Double): Double = {
    if (sigmaX <= 0.0 || sigmaY <= 0.0) return khat
    val sign = math.signum(khat)
    val k = math.abs(khat)
    val x = Array.tabulate(7)(i => (i + 0.5) / sigmaX)
    val y = Array.tabulate(7)(i => (i + 0.5) / sigmaY)
    val tol = 1e-12
    var guess = k / (sigmaX * sigmaY)
    if (guess < 0.0 || guess >= 1.0) return khat
    var delta = corrcorrectSimp(guess, x, y) - k
    var count = 0
    while (!(math.abs(delta) <= tol)) {
      val step = guess - delta / pdf(x, y, guess)
      if (!(step >= 0.0 && step < 1.0)) return khat
      guess = step
      delta = corrcorrectSimp(guess, x, y) - k
      count += 1
      if (count > 100) return khat
    }
    sign * guess * sigmaX * sigmaY
  }

  test("cross kernel fast path is bit-identical to the reference loop") {
    val bits = java.lang.Double.doubleToLongBits _
    // the fixture-realistic surface: khat on the synth's 1997-value
    // dyadic grid (±7.5 range / scale 2), sigmas in the auto-kernel
    // output range, plus guard/edge values (0, ±ties, rho→1 knife
    // edges via tiny sigmas, negatives)
    val khats =
      (-998 to 998 by 7).map(n => (n.toDouble / 128.0) / 2.0) ++
        Seq(0.0, -0.0, 1e-9, -1e-9, 3.74, -3.74, 0.999, 1.0001)
    val sigmas = Seq(0.6, 0.9, 1.0, 1.1, 1.37, 1.8, 2.4, 0.0, -1.0)
    for (k <- khats; sx <- sigmas; sy <- sigmas) {
      val fast = vanVleckCrossInt(k, sx, sy)
      val ref = referenceCrossInt(k, sx, sy)
      assert(bits(fast) == bits(ref),
        s"khat=$k sx=$sx sy=$sy: fast=$fast ref=$ref")
    }
  }

  test("cross memo returns the kernel's exact bits, hit or miss") {
    val memo = new graft.functions.VanVleckCrossMemo
    val bits = java.lang.Double.doubleToLongBits _
    val triples = for {
      n <- -40 to 40; s <- Seq(0.9, 1.1, 1.6)
    } yield (n / 16.0, s, 2.6 - s)
    // first pass computes+inserts, second pass must hit — identical
    (1 to 2).foreach { pass =>
      triples.foreach { case (k, sx, sy) =>
        assert(bits(memo.cross(k, sx, sy)) ==
          bits(vanVleckCrossInt(k, sx, sy)),
          s"pass $pass khat=$k sx=$sx sy=$sy")
      }
    }
  }
}
