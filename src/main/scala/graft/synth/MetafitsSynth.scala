package graft.synth

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.model.Obs

/** Writes the synthetic observation's metadata as a REAL metafits
  * container (primary keyword HDU + TILEDATA binary table), so
  * [[graft.sources.MetafitsReader]] can be exercised — and oracle-gated —
  * against the same numerology every other query runs on.
  *
  * The emitted values are exactly [[graft.model.Dims]]'s: electrical
  * lengths 42.0/43.5 + 13.25·ant (as `EL_` strings, the metafits form
  * the reference's cable correction consumes,
  * /root/reference/src/corrections.rs:118-127), ENH tile positions,
  * antenna 7 flagged, and raw digital gains (ant·4+cc)%16 + 64/65
  * (normalised by 64 on read, corrections.rs:356-365). All values are
  * dyadic rationals exactly representable in float32, so the
  * write→parse→correct loop is bit-identical to the synthetic-dims
  * path and the existing oracle SQL gates it without modification.
  */
object MetafitsSynth {

  /** One 80-character header card. A longer card is refused: padding
    * cannot shorten it, and writing it would shift every later card of
    * its 2880-byte block.
    */
  private def card(k: String, v: String): String = {
    val c = k.padTo(8, ' ') + "= " + v
    require(c.length <= 80, s"metafits card $k is ${c.length} > 80 " +
      "characters; split a long string over CONTINUE cards")
    c.padTo(80, ' ')
  }

  private def pad2880(b: Array[Byte], fill: Byte = ' '.toByte)
      : Array[Byte] = {
    val n = (b.length + 2879) / 2880 * 2880
    val out = java.util.Arrays.copyOf(b, n)
    if (fill != 0) java.util.Arrays.fill(out, b.length, n, fill)
    out
  }

  /** Column layout of the TILEDATA table this writer emits. */
  private val cols = Seq(
    ("Input", "1J", 4), ("Antenna", "1J", 4), ("Tile", "1J", 4),
    ("TileName", "8A", 8), ("Pol", "1A", 1), ("Length", "10A", 10),
    ("North", "1E", 4), ("East", "1E", 4), ("Height", "1E", 4),
    ("Flag", "1J", 4), ("Gains", s"${Obs.NumCoarse}J", Obs.NumCoarse * 4),
    ("Rx", "1J", 4), ("Slot", "1J", 4))
  private val rowLen = cols.map(_._3).sum

  /** Write the synthetic metafits; returns the path. `cableApplied` /
    * `geometryApplied` set the CABLEDEL/GEODEL keywords that drive the
    * CLI's auto-skip decisions (reference cli.rs:1389-1452);
    * `corrVersion` (CORR_VER, 2 = MWAX) / `oversampled` (OVERSAMP) /
    * `deripple` (DERIPPLE) drive the passband auto-select and the Van
    * Vleck legacy check (cli.rs:1378-1388, 1416-1436); `pointingDeg` /
    * `phaseDeg` emit the RA/DEC and RAPHASE/DECPHASE centres the
    * `--pointing-centre` path consumes (cli.rs:1364-1377).
    */
  def write(path: String, cableApplied: Boolean = false,
            geometryApplied: Boolean = false,
            corrVersion: Int = 2,
            oversampled: Boolean = false,
            deripple: Boolean = false,
            pointingDeg: Option[(Double, Double)] = None,
            phaseDeg: Option[(Double, Double)] = None,
            quackTimS: Option[Double] = None,
            // channelisation overrides: the legacy 10 kHz class
            // (reference obs 1196175296_mwa_ord, 128 fine chans per
            // coarse, /root/reference/src/io/mwaf.rs:434-439) writes
            // FINECHAN 10.0 / NCHANS 128·NumCoarse here
            fineChanWidthHz: Double = Obs.FineChanWidthHz,
            nChans: Int = Obs.NumChans): String = {
    val nIn = Obs.NumAnts * 2

    val centreCards =
      pointingDeg.toSeq.flatMap { case (r, d) =>
        Seq(card("RA", r.toString), card("DEC", d.toString)) } ++
      phaseDeg.toSeq.flatMap { case (r, d) =>
        Seq(card("RAPHASE", r.toString), card("DECPHASE", d.toString)) }

    val primary = (Seq(
      card("SIMPLE", "T"),
      card("BITPIX", "8"),
      card("NAXIS", "0"),
      card("GPSTIME", Obs.GpsStart.toString),
      card("INTTIME", Obs.IntTimeS.toString),
      card("FINECHAN", (fineChanWidthHz / 1000.0).toString),
      card("NCHANS", nChans.toString),
      card("NSCANS", Obs.NumTimesteps.toString),
      card("QUACKTIM",
        quackTimS.getOrElse(Obs.FlagInitSteps * Obs.IntTimeS).toString),
      card("NINPUTS", nIn.toString),
      card("CHANNELS",
        "'" + (109 until 109 + Obs.NumCoarse).mkString(",") + "'"),
      // centre such that reconstruction lands chan-0 on BaseFreqHz:
      // base = FREQCENT − width·nChans/2, rounded to integer Hz
      card("FREQCENT", ((Obs.BaseFreqHz +
        fineChanWidthHz * nChans / 2.0) / 1e6).toString),
      card("CABLEDEL", if (cableApplied) "1" else "0"),
      card("GEODEL", if (geometryApplied) "1" else "0"),
      card("CORR_VER", corrVersion.toString),
      card("OVERSAMP", if (oversampled) "1" else "0"),
      card("DERIPPLE", if (deripple) "1" else "0"))
      ++ centreCards
      :+ "END".padTo(80, ' ')).mkString

    val tableHdr = (Seq(
      card("XTENSION", "'BINTABLE'"),
      card("BITPIX", "8"),
      card("NAXIS", "2"),
      card("NAXIS1", rowLen.toString),
      card("NAXIS2", nIn.toString),
      card("PCOUNT", "0"),
      card("GCOUNT", "1"),
      card("TFIELDS", cols.length.toString)) ++
      cols.zipWithIndex.flatMap { case ((name, form, _), i) =>
        Seq(card(s"TTYPE${i + 1}", s"'$name'"),
          card(s"TFORM${i + 1}", s"'$form'"))
      } ++ Seq(card("EXTNAME", "'TILEDATA'"),
        "END".padTo(80, ' '))).mkString

    val data = ByteBuffer.allocate(nIn * rowLen)
      .order(ByteOrder.BIG_ENDIAN)
    (0 until Obs.NumAnts).foreach { ant =>
      Seq("X", "Y").zipWithIndex.foreach { case (pol, p) =>
        val elec = (if (pol == "X") 42.0 else 43.5) + ant * 13.25
        data.putInt(ant * 2 + p)                       // Input
        data.putInt(ant)                               // Antenna
        data.putInt(ant + 11)                          // Tile
        data.put(s"Tile$ant".padTo(8, ' ')
          .getBytes(StandardCharsets.US_ASCII))        // TileName
        data.put(pol.getBytes(StandardCharsets.US_ASCII)) // Pol
        data.put(s"EL_$elec".padTo(10, ' ')
          .getBytes(StandardCharsets.US_ASCII))        // Length
        data.putFloat(((ant / 4) * 100.0 - 50.0).toFloat)  // North
        data.putFloat(((ant % 4) * 100.0 - 150.0).toFloat) // East
        data.putFloat((377.0 + ant * 0.5).toFloat)     // Height
        data.putInt(if (ant == Obs.FlaggedAnt) 1 else 0) // Flag
        (0 until Obs.NumCoarse).foreach { cc =>        // Gains (raw)
          data.putInt((ant * Obs.NumCoarse + cc) % 16 + 64 +
            (if (pol == "Y") 1 else 0))
        }
        data.putInt(ant / 8 + 1)                       // Rx
        data.putInt(ant % 8 + 1)                       // Slot
      }
    }

    val bytes =
      pad2880(primary.getBytes(StandardCharsets.US_ASCII)) ++
        pad2880(tableHdr.getBytes(StandardCharsets.US_ASCII)) ++
        pad2880(data.array(), 0)
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    path
  }
}
