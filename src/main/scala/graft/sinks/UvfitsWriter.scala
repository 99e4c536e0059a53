package graft.sinks

import java.io.BufferedOutputStream
import java.nio.ByteBuffer

import graft.model.Obs
import graft.sources.SlabIO
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** K1: uvfits (FITS random groups) binary exporter
  * (reference wrapper /root/reference/src/io/mod.rs:392-467; row layout
  * visible in the reference's round-trip test io/mod.rs:794-851).
  *
  * Layout per the public FITS standard (big-endian):
  *  - one 2880-byte header of 80-char cards: SIMPLE, BITPIX=-32,
  *    NAXIS=6 (0, complex=3, pol=4, chan, ra=1, dec=1), GROUPS=T,
  *    PCOUNT=6 (UU, VV, WW, DATE-days, DATE-fraction, BASELINE —
  *    DATE split in two params because float32 ulp at a GPS-epoch JD
  *    is ~128 s), GCOUNT=rows, END;
  *  - one group per (time, baseline): 6 float32 parameters followed by
  *    chan x pol x (re, im, weight) float32s, time-major baseline order;
  *  - zero-padded to a 2880-byte boundary.
  *
  * Baseline id uses the uvfits convention 256*ant1 + ant2 (1-based).
  *
  * Scale shape: every group is ENCODED ON ITS EXECUTOR — the range
  * partitioner gives each partition a contiguous (t_out, bl) slice (all
  * channels of a group share the partition key, so no group straddles a
  * boundary), each partition writes its encoded byte slice as a part
  * file, and the driver performs a pure byte-level concatenation
  * (stream copy — never decodes a row). The serial tail is the
  * single-file append the format itself imposes, exactly as in the
  * reference's writer; on an object store it would be a multipart
  * upload of the same slices.
  *
  * Filesystem contract: all IO goes through the Hadoop FileSystem API
  * with the SESSION's configuration (part files must be on storage the
  * driver can read — a shared mount, hdfs, etc.). The attempt-unique
  * temp + rename-overwrite commit is atomic exactly where the FS's
  * rename is (posix/HDFS yes, object stores no).
  */
object UvfitsWriter {

  /** Source offsets of the re component per output pol slot: file pol
    * order XX YY XY YX over component order a0..a7 = XX XY YX YY
    * (im = re + 1). Hoisted — this indexes the innermost encode loop.
    */
  private val PolSrc: Array[Int] = Array(0, 6, 2, 4)

  /** Assembly route the last [[write]] took — `"concat"` (metadata-only
    * stitch, no driver byte traffic) or `"stream"` (driver-streamed
    * copy, the lowest-common-denominator fallback). Test/dev
    * observability for the single-file tail; see the object-store
    * contract in BENCH_NOTES.md.
    */
  @volatile private[graft] var lastAssemblyRoute: String = ""

  private def card(key: String, value: String, comment: String = ""): String = {
    val v = key.take(8).padTo(8, ' ') + "= " +
      value.reverse.padTo(20, ' ').reverse +
      (if (comment.nonEmpty) s" / $comment" else "")
    v.padTo(80, ' ').take(80)
  }

  private def endCard: String = "END".padTo(80, ' ')

  /** MWA geocentric (ITRF) array centre, metres — the published array
    * position every MWA data product carries (same constants the
    * reference's array-position default resolves to).
    */
  val ArrayXyzM: (Double, Double, Double) =
    (-2559454.08, 5095372.14, -2849057.18)

  /** Earth rotation rate, degrees per UT1 day (IAU conventional). */
  val DegPerDay: Double = 360.98564497329994

  /** Encode the AIPS AN antenna extension HDU (the standard uvfits
    * antenna-table layout — AIPS Memo 117 §4.1; the reference's writer
    * receives the same names + ENH→XYZ positions,
    * /root/reference/src/io/mod.rs:431-455): one BINTABLE row per
    * antenna with ANNAME, STABXYZ (local-geodetic metres, the ENH
    * transform shared with the geometry stage), NOSTA (1-based — the
    * BASELINE group-parameter convention), MNTSTA 0 (alt-az), and the
    * X/Y linear-feed polarisation columns. Array-geometry keywords
    * (ARRAYX/Y/Z, GSTIA0, DEGPDY, RDATE, FREQ) make the table
    * self-describing for AIPS/CASA-class readers.
    *
    * `ants` = (ant, name, east, north, height), any order; rows are
    * emitted in ascending antenna id.
    */
  def antennaHdu(ants: Seq[(Long, String, Double, Double, Double)],
                 latRad: Double, baseFreqHz: Double,
                 gpsStartS: Double): Array[Byte] = {
    val rowLen = 62
    val n = ants.length
    // RDATE = UTC date of the observation start; GSTIA0 = GMST (deg)
    // at 0h UT1 on RDATE, from the library's own sidereal-time chain
    val unixS = gpsStartS + 315964800.0 - 18.0 // GPS−UTC 18 s era
    val dayStartUnix = math.floor(unixS / 86400.0) * 86400.0
    val rdate = java.time.LocalDate.ofEpochDay(
      (dayStartUnix / 86400.0).toLong).toString
    val jd0 = dayStartUnix / 86400.0 + 2440587.5
    val gstia0Deg = math.toDegrees(
      graft.functions.Astro.gmstRad(jd0)) match {
      case d if d < 0 => d + 360.0
      case d => d % 360.0
    }
    val (ax, ay, az) = ArrayXyzM
    val forms = Seq(
      ("ANNAME", "8A", ""), ("STABXYZ", "3D", "METERS"),
      ("NOSTA", "1J", ""), ("MNTSTA", "1J", ""),
      ("STAXOF", "1E", "METERS"), ("POLTYA", "1A", ""),
      ("POLAA", "1E", "DEGREES"), ("POLCALA", "1E", ""),
      ("POLTYB", "1A", ""), ("POLAB", "1E", "DEGREES"),
      ("POLCALB", "1E", ""))
    val colCards = forms.zipWithIndex.flatMap { case ((t, f, u), i) =>
      Seq(card(s"TTYPE${i + 1}", s"'$t'"),
        card(s"TFORM${i + 1}", s"'$f'")) ++
        (if (u.nonEmpty) Seq(card(s"TUNIT${i + 1}", s"'$u'")) else Nil)
    }
    val cards = Seq(
      card("XTENSION", "'BINTABLE'", "antenna table"),
      card("BITPIX", "8"),
      card("NAXIS", "2"),
      card("NAXIS1", rowLen.toString, "bytes per row"),
      card("NAXIS2", n.toString, "antennas"),
      card("PCOUNT", "0"), card("GCOUNT", "1"),
      card("TFIELDS", forms.length.toString)) ++ colCards ++ Seq(
      card("EXTNAME", "'AIPS AN '"),
      card("EXTVER", "1"),
      card("ARRAYX", ax.toString, "MWA geocentric x, m"),
      card("ARRAYY", ay.toString, "MWA geocentric y, m"),
      card("ARRAYZ", az.toString, "MWA geocentric z, m"),
      card("FREQ", baseFreqHz.toString, "reference frequency, Hz"),
      card("GSTIA0", f"$gstia0Deg%.12f", "GST at 0h on RDATE, deg"),
      card("DEGPDY", DegPerDay.toString, "earth rotation, deg/day"),
      card("RDATE", s"'$rdate'", "reference date"),
      card("POLARX", "0.0"), card("POLARY", "0.0"),
      card("UT1UTC", "0.0"), card("DATUTC", "0.0"),
      card("TIMSYS", "'UTC     '"),
      card("ARRNAM", "'MWA     '"),
      card("NUMORB", "0"), card("NOPCAL", "0"),
      card("POLTYPE", "'X-Y LIN '"),
      card("FREQID", "-1"),
      endCard)
    val headerStr = cards.mkString
    val header = (headerStr + " " * ((2880 - headerStr.length % 2880)
      % 2880)).getBytes("ASCII")

    val (sLat, cLat) = (math.sin(latRad), math.cos(latRad))
    val data = ByteBuffer.allocate(n * rowLen) // big-endian default
    ants.sortBy(_._1).foreach { case (ant, name, e, nn, hh) =>
      // ENH → local XYZ, the same transform the geometry stage uses
      // (reference ENH::to_xyz_inner, consumed io/mod.rs:436-442)
      val x = -nn * sLat + hh * cLat
      val y = e
      val z = nn * cLat + hh * sLat
      data.put(name.take(8).padTo(8, ' ').getBytes("ASCII"))
      data.putDouble(x).putDouble(y).putDouble(z)
      data.putInt(ant.toInt + 1) // NOSTA: 1-based, as BASELINE ids
      data.putInt(0) // MNTSTA: alt-az
      data.putFloat(0.0f) // STAXOF
      data.put('X'.toByte).putFloat(0.0f).putFloat(0.0f)
      data.put('Y'.toByte).putFloat(90.0f).putFloat(0.0f)
    }
    val dataLen = n * rowLen
    val padded = java.util.Arrays.copyOf(data.array(),
      (dataLen + 2879) / 2880 * 2880)
    header ++ padded
  }

  /** Write an averaged frame (columns bl, ant1, ant2, t_out, c_out,
    * a0..a7, flag_out, weight_out) as a random-groups uvfits file.
    * Returns the number of groups written (row-count invariant,
    * mirror of /root/reference/src/io/mwaf.rs:504-510's check).
    *
    * `uvw` is the per-(t, ant) partial-UVW dimension
    * ([[graft.ops.GeometryCorrection.partUvw]], reference
    * calc_part_uvws /root/reference/src/corrections.rs:652-676); the
    * group parameters are then u,v,w = part(ant1) − part(ant2) in
    * SECONDS (metres / c — the uvfits convention, reference writer
    * /root/reference/src/io/mod.rs:392-467) at the window CENTROID —
    * the same instant the DATE params are stamped at. None writes
    * zeroed parameters (a structure-only export).
    *
    * `intTimeS` is the input integration time from the metadata seam
    * (metafits INTTIME); output groups are stamped at the centroid of
    * their avgTime-wide window.
    */
  def write(avg: DataFrame, path: String,
            uvw: Option[DataFrame] = None,
            intTimeS: Double = Obs.IntTimeS,
            avgTime: Int = 2,
            gpsStartS: Double = Obs.GpsStart.toDouble,
            antenna: Option[DataFrame] = None,
            arrayLatRad: Double = graft.ops.GeometryCorrection.LatRad,
            baseFreqHz: Double = Obs.BaseFreqHz): Long = {
    val spark = avg.sparkSession
    // AIPS AN antenna extension: dimension-sized (one row per tile),
    // encoded on the driver and appended after the random-groups data.
    // Names come from the container's tile_name when present (real
    // metafits), else the MWA TileNNN convention
    val anBytes: Option[Array[Byte]] = antenna.map { a =>
      val hasName = a.columns.contains("tile_name")
      val cols = Seq("ant", "east_m", "north_m", "height_m") ++
        (if (hasName) Seq("tile_name") else Nil)
      val ants = a.select(cols.head, cols.tail: _*).collect().map { r =>
        val ant = r.getLong(0)
        val name = if (hasName) r.getString(4) else f"Tile$ant%03d"
        (ant, name, r.getDouble(1), r.getDouble(2), r.getDouble(3))
      }.toSeq
      antennaHdu(ants, arrayLatRad, baseFreqHz, gpsStartS)
    }
    // the UVW dim is O(timesteps x antennas) — collect + broadcast is
    // the same model-sized pattern the MS sink's broadcast joins use
    val uvwB = uvw.map { d =>
      spark.sparkContext.broadcast(
        d.select("t", "ant", "u_m", "v_m", "w_m").collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
          .toMap)
    }
    // the writer scans the frame twice (metadata, encode) — cache it
    // for the duration of the write so the upstream pipeline
    // materialises ONCE, as MsContainer.write already does; at 100 TB
    // the recompute would double the dominant sink cost
    val frame = avg.cache()
    // one metadata pass: channel slots are offsets from the lowest
    // selected channel (a picket-fence or range-selected frame does
    // not start at c_out = 0), and the row count sizes the encode
    // parallelism (a fixed count would cap the dominant encode cost at
    // scale)
    val (cMinL, cMaxL, nRows) = {
      val r = frame.agg(min("c_out"), max("c_out"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val cMin = cMinL.toInt
    val nChans = (cMaxL - cMinL + 1).toInt
    val encParts = Sinks.encodePartitions(spark, nRows)
    val ordered = frame
      .repartitionByRange(encParts, col("t_out"), col("bl"))
      .sortWithinPartitions("t_out", "bl", "c_out")
      .select("t_out", "bl", "ant1", "ant2", "c_out",
        "a0", "a1", "a2", "a3", "a4", "a5", "a6", "a7", "weight_out")
    val pcount = 6
    val floatsPerChan = 4 * 3 // pol x (re, im, wt)
    val groupFloats = pcount + nChans * floatsPerChan

    // GCOUNT is the encode's own group count, so the header is built
    // after it
    def header(nGroups: Long): Array[Byte] = {
      val cards = Seq(
        card("SIMPLE", "T", "conforms to FITS standard"),
        card("BITPIX", "-32", "IEEE float32"),
        card("NAXIS", "6"),
        card("NAXIS1", "0", "random groups"),
        card("NAXIS2", "3", "re, im, weight"),
        card("NAXIS3", "4", "pols XX YY XY YX"),
        card("NAXIS4", nChans.toString, "channels"),
        card("NAXIS5", "1", "ra"),
        card("NAXIS6", "1", "dec"),
        card("EXTEND", "T"),
        card("GROUPS", "T", "random group records"),
        card("PCOUNT", pcount.toString, "UU VV WW DATE DATE BASELINE"),
        card("GCOUNT", nGroups.toString, "number of groups"),
        card("PTYPE1", "'UU      '"), card("PTYPE2", "'VV      '"),
        card("PTYPE3", "'WW      '"), card("PTYPE4", "'DATE    '"),
        card("PTYPE5", "'DATE    '"), card("PTYPE6", "'BASELINE'"),
        card("OBJECT", "'GRAFT   '"),
        card("TELESCOP", "'MWA     '"),
        endCard)
      val headerStr = cards.mkString
      (headerStr + " " * ((2880 - headerStr.length % 2880)
        % 2880)).getBytes("ASCII")
    }

    val gpsStart = gpsStartS
    val outStepS = intTimeS * avgTime
    val sconf = SlabIO.serializableConf(spark)

    // the range partitioner may legally produce FEWER partitions than
    // requested (distinct keys or samples < 32, empty frame → 1), so
    // the actual count — not the requested 32 — drives both the encode
    // and the concat loop
    val orderedRdd = ordered.rdd
    val actualParts = orderedRdd.getNumPartitions

    // per-partition slice encoding: each task streams its sorted rows
    // through the same group-flush state machine the serial writer used,
    // into a part file; returns its slice
    val parts: Array[Part] = orderedRdd
      .mapPartitionsWithIndex { (idx, rows) =>
        val conf = sconf.value
        val partPath = new Path(s"$path.part$idx")
        val fs = partPath.getFileSystem(conf)
        // attempt-unique temp + rename-overwrite so a speculative retry
        // can't interleave bytes with a concurrent attempt's file
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmpPath = new Path(s"$path.part$idx.attempt$attempt")
        // a failed attempt must not orphan its temp file
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskFailureListener { (_, _) =>
            fs.delete(tmpPath, false); ()
          })
        val out = new BufferedOutputStream(fs.create(tmpPath, true),
          1 << 20)
        var written = 0L
        var first: (Long, Long) = null
        var curKey: (Long, Long) = null
        var curA1 = 0L
        var curA2 = 0L
        var curT = 0L
        val chanData = Array.fill(nChans * floatsPerChan)(0.0f)

        def flush(): Unit = {
          if (curKey != null) {
            val buf = ByteBuffer.allocate(groupFloats * 4) // big-endian
            uvwB match {
              case Some(b) =>
                // UVW at the window CENTROID — the same instant DATE
                // is stamped at (input step t_out·avgTime + avgTime/2;
                // an exact entry for even avgTime, the midpoint of the
                // neighbouring steps for odd, clamped at scan end) —
                // mirroring MsWriter.centroidUvw
                val tLo = curT * avgTime + avgTime / 2
                val m = b.value
                def part(ant: Long): (Double, Double, Double) = {
                  val lo = m.getOrElse((tLo, ant), sys.error(
                    s"uvfits UVW: no partial UVW for (t=$tLo, ant=$ant)"))
                  if (avgTime % 2 == 0) lo
                  else {
                    val hi = m.getOrElse((tLo + 1, ant), lo)
                    ((lo._1 + hi._1) / 2.0, (lo._2 + hi._2) / 2.0,
                      (lo._3 + hi._3) / 2.0)
                  }
                }
                val (u1, v1, w1) = part(curA1)
                val (u2, v2, w2) = part(curA2)
                buf.putFloat(((u1 - u2) / Obs.SpeedOfLight).toFloat)
                buf.putFloat(((v1 - v2) / Obs.SpeedOfLight).toFloat)
                buf.putFloat(((w1 - w2) / Obs.SpeedOfLight).toFloat)
              case None =>
                buf.putFloat(0.0f).putFloat(0.0f).putFloat(0.0f)
            }
            // DATE split across two params: float32 ulp at a GPS-epoch
            // JD is ~128 s, so days go in param 4 and the day FRACTION
            // (exact to sub-ms in f32) in param 5 — the standard uvfits
            // convention. Groups are stamped at the centroid of their
            // avgTime-wide output window.
            val gpsSec = gpsStart + (curT + 0.5) * outStepS
            val days = math.floor(gpsSec / 86400.0)
            buf.putFloat(days.toFloat)
            buf.putFloat(((gpsSec - days * 86400.0) / 86400.0).toFloat)
            buf.putFloat((256 * (curA1 + 1) + (curA2 + 1)).toFloat)
            chanData.foreach(buf.putFloat)
            out.write(buf.array())
            written += 1
            java.util.Arrays.fill(chanData, 0.0f)
          }
        }

        rows.foreach { r: Row =>
          val key = (r.getLong(0), r.getLong(1))
          if (key != curKey) {
            flush()
            if (first == null) first = key
            curKey = key
            curT = r.getLong(0)
            curA1 = r.getLong(2)
            curA2 = r.getLong(3)
          }
          val c = (r.getLong(4) - cMin).toInt
          if (c >= 0 && c < nChans) {
            val base = c * floatsPerChan
            val wt = r.getDouble(13).toFloat
            var p = 0
            while (p < 4) {
              val ri = PolSrc(p)
              chanData(base + p * 3) = r.getDouble(5 + ri).toFloat
              chanData(base + p * 3 + 1) = r.getDouble(6 + ri).toFloat
              chanData(base + p * 3 + 2) = wt
              p += 1
            }
          }
        }
        flush()
        out.close()
        FileContext.getFileContext(partPath.toUri, conf)
          .rename(tmpPath, partPath, Options.Rename.OVERWRITE)
        Iterator(Part(idx, written, Option(first), Option(curKey)))
      }
      .collect()
    uvwB.foreach(_.unpersist())
    frame.unpersist()
    require(parts.length == actualParts,
      s"uvfits partition invariant: ${parts.length} part results " +
        s"for $actualParts partitions")
    requireDisjointGroups(parts)

    // driver: header + ordered assembly of the slices + pad.
    // RangePartitioner orders partitions by key range, so part idx order
    // IS global (t_out, bl) order — byte-identical to the serial writer.
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new Path(path)
    val fs = outPath.getFileSystem(conf)
    val written = parts.map(_.groups).sum
    val dataBytes = written * groupFloats * 4
    val pad = ((2880 - dataBytes % 2880) % 2880).toInt
    val partPaths = (0 until actualParts).map { idx =>
      val p = new Path(s"$path.part$idx")
      // every executed partition writes a part file (possibly
      // header-less empty), so absence means the slice is LOST
      // (non-shared storage, failed rename) — skipping it would emit a
      // silently truncated file that still satisfies the collected
      // row-count invariant
      require(fs.exists(p),
        s"missing uvfits part $idx — executor part files must be on " +
          "storage visible to the driver")
      p
    }

    // Fast path: FileSystem.concat stitches the parts onto the header
    // file as a metadata-only operation (HDFS moves blocks, no byte
    // traffic through the driver) — the serial tail of a single-file
    // sink drops from O(bytes) to O(parts). Filesystems without concat
    // (local, s3a) throw before mutating anything; fall back to the
    // streamed copy.
    def concatAssembly(): Boolean = {
      val srcs = partPaths.filter(p => fs.getFileStatus(p).getLen > 0)
      if (srcs.isEmpty) return false
      val padPath = new Path(s"$path.pad")
      val anPath = new Path(s"$path.an")
      try {
        val hout = fs.create(outPath, true)
        hout.write(header(written))
        hout.close()
        val withPad = if (pad > 0) {
          val pout = fs.create(padPath, true)
          pout.write(new Array[Byte](pad))
          pout.close()
          srcs :+ padPath
        } else srcs
        // the antenna HDU is its own concat source, appended after the
        // group-data pad — same metadata-only stitch as the slices
        val withAn = anBytes match {
          case Some(b) =>
            val aout = fs.create(anPath, true)
            aout.write(b)
            aout.close()
            withPad :+ anPath
          case None => withPad
        }
        fs.concat(outPath, withAn.toArray)
        partPaths.filterNot(srcs.contains).foreach(fs.delete(_, false))
        true
      } catch {
        // concat precondition violations (block alignment, same-dir,
        // open files) surface as RuntimeExceptions on some FS
        // implementations, not just UnsupportedOperation/IOException —
        // any failure here must fall back to the streamed copy
        case scala.util.control.NonFatal(_) =>
          fs.delete(padPath, false)
          fs.delete(anPath, false)
          false
      }
    }

    if (concatAssembly()) lastAssemblyRoute = "concat"
    else {
      lastAssemblyRoute = "stream"
      val out =
        new BufferedOutputStream(fs.create(outPath, true), 1 << 20)
      out.write(header(written))
      partPaths.foreach { p =>
        val in = fs.open(p)
        IOUtils.copyBytes(in, out, 1 << 20, false)
        in.close()
        fs.delete(p, false)
      }
      out.write(new Array[Byte](pad))
      anBytes.foreach(out.write)
      out.close()
    }
    written
  }

  /** One encoded slice: its partition, the groups it wrote, and its
    * first and last (t_out, bl) group keys (None when empty).
    */
  private[graft] final case class Part(idx: Int, groups: Long,
                                       first: Option[(Long, Long)],
                                       last: Option[(Long, Long)])

  /** The group-count invariant: every group is written once iff no
    * group straddles two slices. Each slice is sorted, so that holds
    * when the first and last keys of the non-empty slices, in
    * partition order, are strictly increasing.
    */
  private[graft] def requireDisjointGroups(parts: Seq[Part]): Unit = {
    val ordering = Ordering.Tuple2[Long, Long]
    parts.sortBy(_.idx).filter(_.groups > 0).sliding(2).foreach {
      case Seq(a, b) =>
        require(ordering.lt(a.last.get, b.first.get),
          s"uvfits group invariant: part ${a.idx} ends at (t_out, bl) " +
            s"${a.last.get} and part ${b.idx} starts at ${b.first.get}")
      case _ =>
    }
  }
}
