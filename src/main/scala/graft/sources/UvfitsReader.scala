package graft.sources

import java.nio.ByteOrder

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** K1 read-back: parse a random-groups uvfits file (the exact layout
  * [[graft.sinks.UvfitsWriter]] emits, per the public FITS standard)
  * back into the averaged-frame schema — so a consumer can verify or
  * re-ingest what the sink wrote without leaving the library.
  *
  * Layout recap: one 2880-byte header (NAXIS=6 with NAXIS1=0 marking
  * random groups; PCOUNT parameters per group; GCOUNT groups), then
  * GCOUNT groups of big-endian float32: PCOUNT parameters (UU VV WW
  * DATE DATE BASELINE) followed by chan × pol × (re, im, weight) with
  * pol order XX YY XY YX; zero-padded to a 2880 boundary.
  *
  * Scale shape: the driver parses the 2880-byte header only; groups are
  * range-partitioned across tasks, each task opening its own positioned
  * reader over any Hadoop filesystem and reading ONE GROUP at a time —
  * memory O(group), parallelism independent of file count.
  */
object UvfitsReader {

  val schema: StructType = StructType(Seq(
    StructField("t_out", LongType, nullable = false),
    StructField("bl", LongType, nullable = false),
    StructField("ant1", LongType, nullable = false),
    StructField("ant2", LongType, nullable = false),
    StructField("c_out", LongType, nullable = false)) ++
    (0 until 8).map(k =>
      StructField(s"a$k", DoubleType, nullable = false)) ++
    Seq(StructField("weight_out", DoubleType, nullable = false),
      // UU VV WW group parameters (seconds, f32 in the file) — zeroes
      // for structure-only exports written without a UVW table
      StructField("u_s", DoubleType, nullable = false),
      StructField("v_s", DoubleType, nullable = false),
      StructField("w_s", DoubleType, nullable = false)))

  /** `uu`/`vv`/`ww`/`baseline` are parameter INDICES found via the
    * PTYPEn cards; `date1`/`date2` the first and second DATE parameter
    * (third-party writers order and count parameters differently — a
    * fixed-index decode only reads back our own files). `cards` holds
    * every keyword of the primary header, string values unquoted.
    */
  final case class Header(pcount: Int, gcount: Long, nChans: Int,
                          dataStart: Long, uu: Int, vv: Int, ww: Int,
                          date1: Int, date2: Int, baseline: Int,
                          pzero: Array[Double], pscal: Array[Double],
                          cards: Map[String, String]) {
    /** Physical value of parameter `i` per the FITS random-groups
      * convention: PZEROn + PSCALn·raw. The identity case returns the
      * raw value UNTRANSFORMED so a file's -0.0f survives bit-exactly
      * (0.0 + -0.0 would normalise it).
      */
    def param(raw: Array[Float], i: Int): Double =
      if (pzero(i) == 0.0 && pscal(i) == 1.0) raw(i).toDouble
      else pzero(i) + pscal(i) * raw(i).toDouble
  }

  /** Parse the primary header (2880-byte card blocks up to END). */
  def readHeader(rd: SlabIO.SlabReader): Header = {
    val (cards, pos) = FitsGpubox.requireHeaderAt(rd, 0L, "uvfits")
    require(cards.get("GROUPS").exists(_.startsWith("T")),
      "not a random-groups uvfits file")
    val pcount = cards("PCOUNT").toInt
    val ptypes = (1 to pcount).map { i =>
      cards.getOrElse(s"PTYPE$i", "").toUpperCase
    }
    def param(name: String): Int = {
      val i = ptypes.indexWhere(_.startsWith(name))
      require(i >= 0, s"uvfits: no $name group parameter in $ptypes")
      i
    }
    val d1 = param("DATE")
    val d2 = ptypes.indexWhere(_.startsWith("DATE"), d1 + 1)
    // PZEROn/PSCALn offsets (third-party writers carry the epoch in
    // PZERO so a single f32 DATE can still resolve seconds)
    val pzero = Array.tabulate(pcount)(i =>
      cards.get(s"PZERO${i + 1}").map(_.toDouble).getOrElse(0.0))
    val pscal = Array.tabulate(pcount)(i =>
      cards.get(s"PSCAL${i + 1}").map(_.toDouble).getOrElse(1.0))
    Header(
      pcount = pcount,
      gcount = cards("GCOUNT").toLong,
      nChans = cards("NAXIS4").toInt,
      dataStart = pos,
      uu = param("UU"), vv = param("VV"), ww = param("WW"),
      date1 = d1, date2 = d2,
      baseline = param("BASELINE"),
      pzero = pzero, pscal = pscal,
      cards = cards)
  }

  /** Decode groups [from, until) of the file into rows (one row per
    * (group, channel), mirroring the writer's input frame).
    */
  def decodeGroups(path: String, h: Header, from: Long, until: Long,
                   gpsStart: Double, outStepS: Double,
                   nAnts: Int,
                   conf: org.apache.hadoop.conf.Configuration)
      : Iterator[Row] = {
    val groupFloats = h.pcount + h.nChans * 12
    val rd = new SlabIO.SlabReader(path, conf)
    val iter = (from until until).iterator.flatMap { g =>
      val buf = rd
        .readAt(h.dataStart + g * groupFloats * 4L, groupFloats * 4)
        .order(ByteOrder.BIG_ENDIAN)
      val params = Array.fill(h.pcount)(buf.getFloat())
      val days = h.param(params, h.date1)
      // writers that emit a single DATE parameter carry the whole
      // timestamp in it (epoch in PZERO); the split-DATE convention
      // adds the fraction as a second parameter
      val frac = if (h.date2 >= 0) h.param(params, h.date2) else 0.0
      // groups are stamped at the CENTROID of their output window, so
      // floor recovers the window index (f32 day-fraction ulp ≈ 5 ms,
      // far inside the half-window guard band)
      val tOut = math.floor(
        (days * 86400.0 + frac * 86400.0 - gpsStart) / outStepS).toLong
      val blCode = math.round(h.param(params, h.baseline))
      val ant1 = blCode / 256 - 1
      val ant2 = blCode % 256 - 1
      val bl = ant1 * nAnts + ant2
      (0 until h.nChans).iterator.map { c =>
        // file pol order XX YY XY YX -> component order XX XY YX YY
        val v = new Array[Double](12)
        var i = 0
        while (i < 12) {
          v(i) = buf.getFloat((h.pcount + c * 12 + i) * 4).toDouble
          i += 1
        }
        val vals = Array[Double](
          v(0), v(1), // XX re, im
          v(6), v(7), // XY
          v(9), v(10), // YX
          v(3), v(4)) // YY
        Row.fromSeq(Seq(tOut, bl, ant1, ant2, c.toLong) ++
          vals.toSeq ++ Seq(v(2).toDouble, h.param(params, h.uu),
            h.param(params, h.vv), h.param(params, h.ww)))
      }
    }
    SlabIO.closeOnExhaust(iter)(() => rd.close())
  }

  /** Read back the AIPS AN antenna extension HDU
    * ([[graft.sinks.UvfitsWriter.antennaHdu]]; standard uvfits antenna
    * table, AIPS Memo 117 §4.1) as a DataFrame — TTYPE-driven column
    * decode, so any conforming writer's table reads, not just ours.
    * The table is dimension-sized (one row per tile), so the decode is
    * a driver-side positioned read, like every other dim ingest.
    */
  def readAntennaTable(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = new SlabIO.SlabReader(path, conf)
    val rows = try {
      val h = readHeader(rd)
      val groupFloats = h.pcount + h.nChans * 12
      var pos = h.dataStart +
        (h.gcount * groupFloats * 4L + 2879) / 2880 * 2880
      var result: Option[Seq[Row]] = None
      // walk extension HDUs until EXTNAME = 'AIPS AN'
      while (result.isEmpty && pos + 2880 <= rd.size) {
        val (cards, dataPos) = FitsGpubox.requireHeaderAt(rd, pos,
          "extension")
        pos = dataPos
        val rowLen = cards("NAXIS1").toInt
        val nRows = cards("NAXIS2").toInt
        val dataLen = rowLen.toLong * nRows +
          cards.getOrElse("PCOUNT", "0").toLong
        if (cards.get("EXTNAME").contains("AIPS AN")) {
          // TTYPE/TFORM-driven column offsets (A/E/D/J supported)
          val tfields = cards("TFIELDS").toInt
          var off = 0
          val cols: Map[String, (Char, Int, Int)] =
            (1 to tfields).map { i =>
              val name = cards(s"TTYPE$i")
              val form = cards(s"TFORM$i")
              // a bare TFORM letter means repeat 1 per the standard
              val repeat =
                if (form.length > 1) form.init.toInt else 1
              val typ = form.last
              val width = typ match {
                case 'A' | 'L' | 'B' => 1
                case 'I' => 2
                case 'J' | 'E' => 4
                case 'K' | 'D' => 8
                case other => sys.error(s"AIPS AN: TFORM type $other")
              }
              val entry = name -> ((typ, repeat, off))
              off += repeat * width
              entry
            }.toMap
          require(off <= rowLen, s"AIPS AN row decode $off > $rowLen")
          val data = rd.readAt(pos, (rowLen * nRows).toInt)
            .order(ByteOrder.BIG_ENDIAN)
          def str(r: Int, c: String): String = {
            val (_, rep, o) = cols(c)
            val b = new Array[Byte](rep)
            (0 until rep).foreach(k => b(k) = data.get(r * rowLen + o + k))
            new String(b, "ASCII").trim
          }
          def dbl(r: Int, c: String, k: Int = 0): Double = {
            val (t, _, o) = cols(c)
            t match {
              case 'D' => data.getDouble(r * rowLen + o + 8 * k)
              case 'E' => data.getFloat(r * rowLen + o + 4 * k).toDouble
              case 'J' => data.getInt(r * rowLen + o + 4 * k).toDouble
              case other => sys.error(s"AIPS AN: numeric read of $other")
            }
          }
          def int(r: Int, c: String): Long = {
            val (_, _, o) = cols(c)
            data.getInt(r * rowLen + o).toLong
          }
          result = Some((0 until nRows).map { r =>
            Row(str(r, "ANNAME"), int(r, "NOSTA"), int(r, "MNTSTA"),
              dbl(r, "STABXYZ", 0), dbl(r, "STABXYZ", 1),
              dbl(r, "STABXYZ", 2), dbl(r, "STAXOF"),
              str(r, "POLTYA"), dbl(r, "POLAA"),
              str(r, "POLTYB"), dbl(r, "POLAB"))
          })
        } else pos += (dataLen + 2879) / 2880 * 2880
      }
      result.getOrElse(sys.error(s"no AIPS AN extension in $path"))
    } finally rd.close()
    val anSchema = StructType(Seq(
      StructField("anname", StringType, nullable = false),
      StructField("nosta", LongType, nullable = false),
      StructField("mntsta", LongType, nullable = false),
      StructField("stab_x_m", DoubleType, nullable = false),
      StructField("stab_y_m", DoubleType, nullable = false),
      StructField("stab_z_m", DoubleType, nullable = false),
      StructField("staxof_m", DoubleType, nullable = false),
      StructField("poltya", StringType, nullable = false),
      StructField("polaa_deg", DoubleType, nullable = false),
      StructField("poltyb", StringType, nullable = false),
      StructField("polab_deg", DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), anSchema)
  }

  /** Read a uvfits file into the averaged-frame schema. `cMin` restores
    * the channel offset the writer normalised away (0 for full-band
    * writes).
    */
  def read(spark: SparkSession, path: String, nAnts: Int,
           gpsStart: Double = graft.model.Obs.GpsStart.toDouble,
           outStepS: Double = graft.model.Obs.IntTimeS * 2,
           cMin: Long = 0,
           groupsPerTask: Long = 65536): DataFrame = {
    val conf0 = spark.sparkContext.hadoopConfiguration
    val rd = new SlabIO.SlabReader(path, conf0)
    val h = try {
      val hdr = readHeader(rd)
      // a truncated file would otherwise decode its missing tail from
      // readAt's zero fill as garbage rows — fail like the writer's
      // missing-part require, not silently
      val groupFloats = hdr.pcount + hdr.nChans * 12
      require(hdr.dataStart + hdr.gcount * groupFloats * 4L <= rd.size,
        s"uvfits truncated: header declares ${hdr.gcount} groups but " +
          s"the file holds ${(rd.size - hdr.dataStart) / (groupFloats * 4L)}")
      hdr
    } finally rd.close()
    val sconf = SlabIO.serializableConf(spark)
    val ranges = (0L until h.gcount by groupsPerTask)
      .map(s => (s, math.min(s + groupsPerTask, h.gcount)))
    val rows = spark.sparkContext
      .parallelize(ranges, math.max(ranges.length, 1))
      .flatMap { case (from, until) =>
        decodeGroups(path, h, from, until, gpsStart, outStepS,
          nAnts, sconf.value)
      }
    val df = spark.createDataFrame(rows, schema)
    if (cMin == 0) df
    else df.withColumn("c_out",
      org.apache.spark.sql.functions.col("c_out") + cMin)
  }
}
