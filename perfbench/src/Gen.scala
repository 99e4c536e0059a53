package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** The shape of one generated observation. Every timed run of a
  * workload uses the same shape with its own sub-seed, so the values
  * (and the Van Vleck memo keys they produce) are new on every run.
  *
  * `missingTail` timesteps are cut from the end of coarse channel 0's
  * gpubox file. The reader only supports a truncated tail, and the
  * metafits end trim always flags the last step, so the cut is one
  * output time bin and at least two steps: a slab the trim does not
  * already flag, whose output cells must all come back flagged.
  */
final case class ObsShape(nTiles: Int, nCoarse: Int, fpc: Int,
                          nScans: Int, intTimeS: Double,
                          fineChanHz: Double, corrVer: Int,
                          missingTail: Int, rfiShare: Double) {
  def nBl: Int = nTiles * (nTiles + 1) / 2
  def nChans: Int = nCoarse * fpc
  def cells: Long = nScans.toLong * nBl * nChans
  /** Van Vleck sample scale the program derives from the metafits
    * (MetaSource.vvSampleScale with the default bscale 0.5).
    */
  def vvScale: Double = fineChanHz * intTimeS
  def flaggedTile: Int = nTiles - 1
}

/** Facts about one generated observation that the checks and the
  * notes need.
  */
final case class ObsFiles(dir: Path, gpuboxDir: Path, metafits: Path,
                          gpuboxBytes: Long, rfiCells: Long,
                          crossCalls: Long, distinctTriples: Long)

object Gen {

  val GpsTime = 1090008640L
  // receiver numbers of the generated band: the metafits reader takes
  // CHANNELS from one 80-character card (no FITS CONTINUE support), so
  // a real 24-channel list such as 131..154 cannot be written; at most
  // 17 three-digit receivers fit. The generator starts at 131 and
  // refuses a list that does not fit, rather than write a card the
  // reader would cut.
  val FirstRx = 131
  val PhaseRaDeg = 60.0
  val PhaseDecDeg = -27.0

  private def card(k: String, v: String): String = {
    val c = k.padTo(8, ' ') + "= " + v
    require(c.length <= 80, s"metafits card $k is ${c.length} chars > 80")
    c.padTo(80, ' ')
  }

  private def pad2880(b: Array[Byte], fill: Byte): Array[Byte] = {
    val n = (b.length + 2879) / 2880 * 2880
    val out = java.util.Arrays.copyOf(b, n)
    java.util.Arrays.fill(out, b.length, n, fill)
    out
  }

  private def header(cards: Seq[String]): Array[Byte] =
    pad2880((cards :+ "END".padTo(80, ' ')).mkString.getBytes(US_ASCII),
      ' '.toByte)

  /** A metafits container: primary keywords plus the TILEDATA binary
    * table (two RF inputs per tile), as graft's MetafitsReader reads it.
    */
  def writeMetafits(path: Path, s: ObsShape, rnd: SplittableRandom): Unit = {
    val nIn = s.nTiles * 2
    val cols = Seq(
      ("Input", "1J", 4), ("Antenna", "1J", 4), ("Tile", "1J", 4),
      ("TileName", "8A", 8), ("Pol", "1A", 1), ("Length", "14A", 14),
      ("North", "1E", 4), ("East", "1E", 4), ("Height", "1E", 4),
      ("Flag", "1J", 4), ("Gains", s"${s.nCoarse}J", 4 * s.nCoarse),
      ("Rx", "1J", 4), ("Slot", "1J", 4))
    val rowLen = cols.map(_._3).sum
    val rx = (FirstRx until FirstRx + s.nCoarse).mkString(",")
    val bandLoHz = (FirstRx - 0.5) * 1.28e6
    val freqCentMHz = (bandLoHz + s.fineChanHz * s.nChans / 2.0) / 1e6
    val primary = header(Seq(
      card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"),
      card("GPSTIME", GpsTime.toString),
      card("INTTIME", s.intTimeS.toString),
      card("FINECHAN", (s.fineChanHz / 1000.0).toString),
      card("NCHANS", s.nChans.toString),
      card("NSCANS", s.nScans.toString),
      card("QUACKTIM", s.intTimeS.toString),
      card("NINPUTS", nIn.toString),
      card("CHANNELS", s"'$rx'"),
      card("FREQCENT", freqCentMHz.toString),
      card("CABLEDEL", "0"), card("GEODEL", "0"),
      card("CORR_VER", s.corrVer.toString),
      card("OVERSAMP", "0"), card("DERIPPLE", "0"),
      card("RA", PhaseRaDeg.toString), card("DEC", PhaseDecDeg.toString),
      card("RAPHASE", PhaseRaDeg.toString),
      card("DECPHASE", PhaseDecDeg.toString)))
    val tableHdr = header(Seq(
      card("XTENSION", "'BINTABLE'"), card("BITPIX", "8"),
      card("NAXIS", "2"), card("NAXIS1", rowLen.toString),
      card("NAXIS2", nIn.toString), card("PCOUNT", "0"),
      card("GCOUNT", "1"), card("TFIELDS", cols.length.toString)) ++
      cols.zipWithIndex.flatMap { case ((n, f, _), i) =>
        Seq(card(s"TTYPE${i + 1}", s"'$n'"), card(s"TFORM${i + 1}", s"'$f'"))
      } :+ card("EXTNAME", "'TILEDATA'"))
    val data = ByteBuffer.allocate(nIn * rowLen).order(ByteOrder.BIG_ENDIAN)
    for (ant <- 0 until s.nTiles) {
      val north = (rnd.nextDouble() * 1200 - 600).toFloat
      val east = (rnd.nextDouble() * 1200 - 600).toFloat
      val height = (377 + rnd.nextDouble() * 3).toFloat
      for ((pol, p) <- Seq("X", "Y").zipWithIndex) {
        val el = f"EL_${50 + rnd.nextDouble() * 450}%.3f"
        data.putInt(ant * 2 + p).putInt(ant).putInt(1000 + ant)
        data.put(f"Tile$ant%03d".padTo(8, ' ').getBytes(US_ASCII))
        data.put(pol.getBytes(US_ASCII))
        data.put(el.padTo(14, ' ').getBytes(US_ASCII))
        data.putFloat(north).putFloat(east).putFloat(height)
        data.putInt(if (ant == s.flaggedTile) 1 else 0)
        for (_ <- 0 until s.nCoarse) data.putInt(60 + rnd.nextInt(20))
        data.putInt(ant / 8 + 1).putInt(ant % 8 + 1)
      }
    }
    Files.write(path, primary ++ tableHdr ++ pad2880(data.array(), 0))
  }

  /** Writes the metafits and one gpubox FITS file per coarse channel.
    *
    * Both correlator versions: autos with quantised σ̂ in [1.2, 2.5]
    * (the Van Vleck σ range) at the sample scale the program derives,
    * Gaussian crosses at correlation ρ ~ N(0, 0.02), clamped inside
    * the kernel's |ρ| < 1 domain. Legacy (CORR_VER 1) values are
    * rounded to integers, as the legacy correlator emits them.
    *
    * RFI: `rfiShare` of the (t, chan) grid is hit on every cross
    * baseline (ρ + 0.3) — narrowband lines over all steps plus one
    * broadband step.
    */
  def writeObs(dir: Path, s: ObsShape, seed: Long): ObsFiles = {
    val rnd = new SplittableRandom(seed)
    Files.createDirectories(dir)
    val gdir = dir.resolve("gpubox")
    Files.createDirectories(gdir)
    val mf = dir.resolve("obs.metafits")
    writeMetafits(mf, s, rnd.split())

    val nT = s.nScans
    val nC = s.nChans
    // RFI mask over (t, chan): a few narrowband lines plus one step
    val rfi = Array.ofDim[Boolean](nT, nC)
    val lines = math.max(1, math.round(s.rfiShare * nC * 0.7).toInt)
    (0 until lines).foreach { _ =>
      val c = rnd.nextInt(nC)
      (0 until nT).foreach(t => rfi(t)(c) = true)
    }
    val burst = 1 + rnd.nextInt(math.max(1, nT - 3))
    (0 until nC).foreach { c =>
      if (rnd.nextDouble() < s.rfiShare * nT * 0.3) rfi(burst)(c) = true
    }
    val rfiTc = rfi.map(_.count(identity).toLong).sum

    val legacy = s.corrVer == 1
    val scale = s.vvScale
    // auto σ̂ per (t, tile, chan) and pol
    val sig = Array.ofDim[Float](nT, s.nTiles, nC, 2)
    val pairs = for (a1 <- 0 until s.nTiles; a2 <- a1 until s.nTiles)
      yield (a1, a2)
    val triples = new java.util.HashSet[(Long, Long, Long)]()
    var crossCalls = 0L
    var bytes = 0L
    val slabFloats = s.nBl * s.fpc * 8
    for (cc <- 0 until s.nCoarse) {
      val present = if (cc == 0) nT - s.missingTail else nT
      val path = gdir.resolve(f"obs_gpubox$cc%02d_00.fits")
      val out = new BufferedOutputStream(
        new FileOutputStream(path.toFile), 1 << 20)
      out.write(header(Seq(
        card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"),
        card("CHANNEL", cc.toString), card("NSCANS", nT.toString),
        card("FINECHAN", s.fpc.toString))))
      val buf = ByteBuffer.allocate(slabFloats * 4).order(ByteOrder.BIG_ENDIAN)
      for (t <- 0 until present) {
        out.write(header(Seq(
          card("XTENSION", "'IMAGE   '"), card("BITPIX", "-32"),
          card("NAXIS", "2"), card("NAXIS1", (s.fpc * 8).toString),
          card("NAXIS2", s.nBl.toString), card("PCOUNT", "0"),
          card("GCOUNT", "1"))))
        buf.clear()
        for (a <- 0 until s.nTiles; fc <- 0 until s.fpc; p <- 0 until 2)
          sig(t)(a)(cc * s.fpc + fc)(p) =
            (1.2 + 1.3 * rnd.nextDouble()).toFloat
        // legacy correlator output is integer-valued
        def put(v: Double): Unit =
          buf.putFloat((if (legacy) math.rint(v) else v).toFloat)
        for ((a1, a2) <- pairs; fc <- 0 until s.fpc) {
          val chan = cc * s.fpc + fc
          val sx1 = sig(t)(a1)(chan)(0); val sy1 = sig(t)(a1)(chan)(1)
          if (a1 == a2) {
            val xy = scale * rnd.nextGaussian() * 0.02 * sx1 * sy1
            val xyi = scale * rnd.nextGaussian() * 0.02 * sx1 * sy1
            put(scale * sx1 * sx1); put(0); put(xy); put(xyi)
            put(xy); put(-xyi); put(scale * sy1 * sy1); put(0)
          } else {
            val sx2 = sig(t)(a2)(chan)(0); val sy2 = sig(t)(a2)(chan)(1)
            val sds = Array(sx1 * sx2, sx1 * sy2, sy1 * sx2, sy1 * sy2)
            val rfiRho = if (rfi(t)(chan)) 0.3 else 0.0
            var k = 0
            while (k < 8) {
              val rho = rnd.nextGaussian() * 0.02 + rfiRho
              put(scale * math.max(-0.9, math.min(0.9, rho)) * sds(k / 2))
              k += 1
            }
          }
        }
        if (legacy) crossCalls += countTriples(buf, s, cc, t, pairs, triples)
        out.write(buf.array())
        out.write(new Array[Byte]((2880 - (slabFloats * 4) % 2880) % 2880))
      }
      out.close()
      bytes += Files.size(path)
    }
    ObsFiles(dir, gdir, mf, bytes, rfiTc * s.nBl, crossCalls,
      triples.size().toLong)
  }

  /** Counts the Van Vleck cross-kernel calls one slab produces and
    * adds their (κ̂, σx, σy) bit triples to `seen` — the memo keys the
    * program computes for this slab. σ comes from the same public
    * kernel the program's σ solve calls; flagged tiles have no σ.
    */
  private def countTriples(buf: ByteBuffer, s: ObsShape, cc: Int, t: Int,
                           pairs: IndexedSeq[(Int, Int)],
                           seen: java.util.HashSet[(Long, Long, Long)])
      : Long = {
    import graft.functions.VanVleckKernel.vanVleckAuto
    val scale = s.vvScale
    def f(bl: Int, fc: Int, k: Int): Double =
      buf.getFloat(4 * ((bl * s.fpc + fc) * 8 + k)).toDouble
    val autoIdx = pairs.zipWithIndex.collect {
      case ((a1, a2), i) if a1 == a2 => a1 -> i }.toMap
    var calls = 0L
    def key(k: Double, x: Double, y: Double): Unit = {
      seen.add((java.lang.Double.doubleToRawLongBits(k),
        java.lang.Double.doubleToRawLongBits(x),
        java.lang.Double.doubleToRawLongBits(y)))
      calls += 1
    }
    for (fc <- 0 until s.fpc) {
      val sx = new Array[Double](s.nTiles)
      val sy = new Array[Double](s.nTiles)
      for (a <- 0 until s.nTiles) {
        val i = autoIdx(a)
        sx(a) = vanVleckAuto(math.sqrt(math.abs(f(i, fc, 0)) / scale))
        sy(a) = vanVleckAuto(math.sqrt(math.abs(f(i, fc, 6)) / scale))
      }
      for (((a1, a2), i) <- pairs.zipWithIndex
           if a1 != s.flaggedTile && a2 != s.flaggedTile) {
        if (a1 == a2) {
          key(f(i, fc, 2) / scale, sx(a1), sy(a1))
          key(f(i, fc, 3) / scale, sx(a1), sy(a1))
        } else {
          val sp = Array((sx(a1), sx(a2)), (sx(a1), sy(a2)),
            (sy(a1), sx(a2)), (sy(a1), sy(a2)))
          for (k <- 0 until 8)
            key(f(i, fc, k) / scale, sp(k / 2)._1, sp(k / 2)._2)
        }
      }
    }
    calls
  }

  /** Clustered unit-scale embeddings: `nClusters` random centres, each
    * vector a centre plus isotropic noise. Returns row-major vectors.
    */
  def corpus(n: Int, dim: Int, nClusters: Int, seed: Long)
      : Array[Array[Float]] = {
    val rnd = new SplittableRandom(seed)
    val centres = Array.fill(nClusters, dim)(rnd.nextGaussian())
    Array.fill(n) {
      val c = centres(rnd.nextInt(nClusters))
      Array.tabulate(dim)(i => (c(i) + 0.35 * rnd.nextGaussian()).toFloat)
    }
  }
}
