package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** S4 (container form): read mwaf flag files back into the flag-mask
  * frame — the parse twin of [[graft.sinks.MwafWriter]] (reference
  * reads its own mwaf output the same way in the round-trip tests,
  * /root/reference/src/io/mwaf.rs:513-599).
  *
  * Layout recap (one standard FITS file per coarse channel,
  * `flags_<cc>.mwaf`): a primary HDU (NAXIS=0) carrying NCHANS (fine
  * chans per coarse), NANTENNA, NSCANS; a FLAGS BINTABLE extension —
  * NSCANS·nBaselines rows in (t, bl-ascending) order, each row a
  * ceil(NCHANS/8)-byte FITS `X` bit column (first bit = MSB of the
  * first byte, the cfitsio packing); then the finalise extensions
  * CH_OCC, BL_OCC and TILES as conforming BINTABLEs (big-endian
  * fixed-width records; see the writer scaladoc). Baseline ids
  * enumerate (ant1 ≤ ant2) pairs ascending by ant1·NANTENNA + ant2 —
  * the same dense grid the writer emits.
  *
  * Scale shape: one task per file; each task streams its rows through
  * a positioned reader (memory O(row)). File count = coarse channels,
  * the same parallelism as the writer's one-partition-per-cc encode.
  */
object MwafReader {

  val schema: StructType = StructType(Seq(
    StructField("cc", LongType, nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("bl", LongType, nullable = false),
    StructField("flag_words",
      ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n_chans", LongType, nullable = false)))

  final case class Header(nChans: Int, nAnts: Int, nScans: Int,
                          dataStart: Long)

  /** Parse the header starting at `pos0`; returns the keyword map
    * (string values unquoted, [[FitsGpubox.headerCards]]) and the
    * position just past its last block (= data start).
    */
  def readCards(rd: SlabIO.SlabReader, pos0: Long)
      : (Map[String, String], Long) =
    FitsGpubox.requireHeaderAt(rd, pos0, "mwaf")

  /** Walk the extension HDUs to the one named `extname`; returns its
    * cards and data start.
    */
  def findExt(rd: SlabIO.SlabReader, extname: String)
      : (Map[String, String], Long) = {
    var (_, pos) = readCards(rd, 0L) // primary (NAXIS=0, no data)
    while (pos < rd.size) {
      val (cards, dataStart) = readCards(rd, pos)
      val dataLen =
        cards("NAXIS1").toLong * cards("NAXIS2").toLong
      if (cards.get("EXTNAME").contains(extname))
        return (cards, dataStart)
      pos = dataStart + dataLen + ((2880 - dataLen % 2880) % 2880)
    }
    sys.error(s"no $extname extension in mwaf file")
  }

  /** Parse the primary header and locate the FLAGS table. */
  def readHeader(rd: SlabIO.SlabReader): Header = {
    val (cards, afterPrimary) = readCards(rd, 0L)
    // the FLAGS BINTABLE is the first extension (reference
    // create_table order, mwaf.rs:434-440)
    val (ext, dataStart) = readCards(rd, afterPrimary)
    require(ext.get("EXTNAME").contains("FLAGS"),
      s"first mwaf extension is ${ext.get("EXTNAME")}, expected FLAGS")
    val h = Header(
      nChans = cards("NCHANS").toInt,
      nAnts = cards("NANTENNA").toInt,
      nScans = cards("NSCANS").toInt,
      dataStart = dataStart)
    require(ext("NAXIS1").toInt == (h.nChans + 7) / 8,
      s"FLAGS NAXIS1 ${ext("NAXIS1")} != ceil(NCHANS/8)")
    h
  }

  /** Ascending baseline ids of the dense (ant1 ≤ ant2) grid. */
  def baselineIds(nAnts: Int): Array[Long] =
    (for (a1 <- 0 until nAnts; a2 <- a1 until nAnts)
      yield (a1 * nAnts + a2).toLong).toArray

  /** Unpack FITS `X`-column bytes back to the logical bitvector
    * (bit `ch mod 32` of word `ch div 32` = channel `ch`,
    * [[graft.sinks.Sinks.MwafWordChans]] layout): channel `8b+k` is
    * bit `7-k` of byte `b`. Arbitrary width — legacy 10 kHz files
    * carry 128 fine channels per coarse.
    */
  def unpackBits(buf: java.nio.ByteBuffer, nChans: Int): Array[Long] = {
    val wc = graft.sinks.Sinks.MwafWordChans
    val words = new Array[Long]((nChans + wc - 1) / wc)
    var ch = 0
    while (ch < nChans) {
      val byte = buf.get(ch / 8) & 0xff
      if (((byte >> (7 - ch % 8)) & 1) == 1)
        words(ch / wc) |= 1L << (ch % wc)
      ch += 1
    }
    words
  }

  /** Decode one mwaf file into (cc, t, bl, flag_words, n_chans) rows. */
  def decodeFile(path: String, cc: Long,
                 conf: org.apache.hadoop.conf.Configuration)
      : Iterator[Row] = {
    val rd = new SlabIO.SlabReader(path, conf)
    val h = readHeader(rd)
    require(h.nChans >= 1, s"NCHANS must be >= 1, got ${h.nChans}")
    val bls = baselineIds(h.nAnts)
    val nBl = bls.length
    val bytesPerRow = (h.nChans + 7) / 8
    val nRows = h.nScans.toLong * nBl
    require(h.dataStart + nRows * bytesPerRow <= rd.size,
      s"mwaf truncated: $path declares $nRows rows")
    val iter = (0L until nRows).iterator.map { idx =>
      val buf = rd.readAt(h.dataStart + idx * bytesPerRow, bytesPerRow)
      Row(cc, idx / nBl, bls((idx % nBl).toInt),
        unpackBits(buf, h.nChans).toSeq, h.nChans.toLong)
    }
    SlabIO.closeOnExhaust(iter)(() => rd.close())
  }

  /** Read the TILES provenance extension: (Antenna, TileName) rows —
    * used by specs to pin the finalise provenance against the
    * reference's schema (mwaf.rs:607-624). Dimension-sized.
    */
  def readTiles(path: String,
                conf: org.apache.hadoop.conf.Configuration)
      : Array[(Int, String)] = {
    val rd = new SlabIO.SlabReader(path, conf)
    try {
      val (cards, dataStart) = findExt(rd, "TILES")
      val n = cards("NAXIS2").toInt
      val rowB = cards("NAXIS1").toInt
      require(rowB == 12, s"TILES NAXIS1 $rowB != 12")
      (0 until n).toArray.map { i =>
        val buf = rd.readAt(dataStart + i.toLong * rowB, rowB)
        val ant = buf.getInt(0)
        val name = new Array[Byte](8)
        var k = 0
        while (k < 8) { name(k) = buf.get(4 + k); k += 1 }
        (ant, new String(name, "ASCII").trim)
      }
    } finally rd.close()
  }

  /** Read the CH_OCC occupancy extension: (Index, Count, Occupancy). */
  def readChOcc(path: String,
                conf: org.apache.hadoop.conf.Configuration)
      : Array[(Int, Long, Double)] = {
    val rd = new SlabIO.SlabReader(path, conf)
    try {
      val (cards, dataStart) = findExt(rd, "CH_OCC")
      val n = cards("NAXIS2").toInt
      val rowB = cards("NAXIS1").toInt
      require(rowB == 20, s"CH_OCC NAXIS1 $rowB != 20")
      (0 until n).toArray.map { i =>
        val buf = rd.readAt(dataStart + i.toLong * rowB, rowB)
        (buf.getInt(0), buf.getLong(4), buf.getDouble(12))
      }
    } finally rd.close()
  }

  /** Read every `flags_<cc>.mwaf` under `dir` into one DataFrame. */
  def read(spark: SparkSession, dir: String,
           template: String = "flags_%%.mwaf"): DataFrame = {
    val conf0 = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val fs = d.getFileSystem(conf0)
    // quote the literal template segments so e.g. the "." in ".mwaf"
    // can't match arbitrary characters
    val pattern = template.split("%%", -1)
      .map(java.util.regex.Pattern.quote)
      .mkString("([0-9]+)").r
    val files = fs.listStatus(d).toSeq
      .map(_.getPath)
      .flatMap { p =>
        p.getName match {
          case pattern(cc) => Some((p.toString, cc.toLong))
          case _ => None
        }
      }
      .sortBy(_._2)
    require(files.nonEmpty, s"no ${template} files under $dir")
    val sconf = SlabIO.serializableConf(spark)
    val rows = spark.sparkContext
      .parallelize(files, files.length)
      .flatMap { case (path, cc) => decodeFile(path, cc, sconf.value) }
    spark.createDataFrame(rows, schema)
  }
}
