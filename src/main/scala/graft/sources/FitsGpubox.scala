package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** S1 (real container): FITS-encoded gpubox ingest.
  *
  * The reference decodes per-(timestep, coarse-chan) FITS image HDUs
  * whose float buffers are laid out [baseline][chan][pol][complex]
  * (/root/reference/src/io/mod.rs:191-202, 258 — `floats_per_chan = 8`,
  * `floats_per_baseline = 8·fpc`, one HDU per timestep), flagging whole
  * (t, cc) slabs whose HDU is missing (io/mod.rs:297-303). This reader
  * implements that contract against the public FITS standard directly:
  *
  *  - 2880-byte header blocks of 80-char cards, `END`-terminated;
  *  - primary HDU (NAXIS=0, header only) carries CHANNEL (coarse chan
  *    id), NSCANS (expected timesteps), FINECHAN (fpc);
  *  - one IMAGE extension per timestep: BITPIX=-32, NAXIS1=8·fpc
  *    (floats per baseline), NAXIS2=n_baselines, big-endian float32;
  *  - a truncated file (fewer HDUs than NSCANS) yields flagged rows for
  *    the missing slabs — the reference's missing-HDU semantics.
  *
  * Scale shape: files decode in parallel (one file per coarse channel,
  * the reference's own granularity) and each task reads ONE SLAB AT A
  * TIME through a positioned channel — memory is O(slab), never
  * O(file), unlike the whole-file byte-array path of the GBX1 fixture
  * reader. The parquet mirror is written once; queries run against it
  * with pushdown.
  */
object FitsGpubox {

  val BlockSize = 2880
  val CardSize = 80

  /** One parsed HDU: its header cards and the absolute byte position
    * and length of its data unit.
    */
  final case class Hdu(cards: Map[String, String], dataPos: Long,
                       dataLen: Long)

  /** The quoted string at the start of a value field (after blanks),
    * read to its closing quote — `''` is an escaped quote and a `/`
    * inside the quotes is text, not a comment — with trailing blanks
    * dropped (FITS 4.0 §4.2.1.1). None when the field holds no string.
    */
  private def quoted(field: String): Option[String] = {
    val t = field.dropWhile(_ == ' ')
    if (!t.startsWith("'")) None
    else {
      val sb = new StringBuilder
      var i = 1
      var closed = false
      while (i < t.length && !closed) {
        if (t(i) != '\'') { sb += t(i); i += 1 }
        else if (i + 1 < t.length && t(i + 1) == '\'') { sb += '\''; i += 2 }
        else closed = true
      }
      Some(sb.toString.reverse.dropWhile(_ == ' ').reverse)
    }
  }

  /** Keyword → value of one header's cards (END excluded). A string
    * ending in `&` continues in the CONTINUE cards that follow it, each
    * replacing the `&` with its own string (FITS 4.0 §4.2.1.2); a
    * non-string value runs to the `/` of its comment. Values are
    * trimmed; COMMENT and HISTORY cards carry none.
    */
  private[sources] def headerCards(cards: Seq[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var continuing: Option[String] = None
    cards.foreach { card =>
      val key = card.take(8).trim
      continuing match {
        case Some(k) if key == "CONTINUE" =>
          val s = quoted(card.drop(8)).getOrElse("")
          out(k) = out(k).dropRight(1) + s
          if (!s.endsWith("&")) continuing = None
        case _ =>
          continuing = None
          if (key.isEmpty || key == "COMMENT" || key == "HISTORY" ||
            key == "CONTINUE") ()
          else if (card.length > 9 && card.charAt(8) == '=') {
            val field = card.substring(10)
            quoted(field) match {
              case Some(s) =>
                out(key) = s
                if (s.endsWith("&")) continuing = Some(key)
              case None => out(key) = field.takeWhile(_ != '/')
            }
          } else out(key) = ""
      }
    }
    out.map { case (k, v) => k -> v.trim }.toMap
  }

  /** The header starting at `pos`: its keyword map ([[headerCards]])
    * and the position just past its last 2880-byte block (the data
    * start). None when the file ends before the header's END card.
    */
  private[sources] def headerAt(rd: SlabIO.SlabReader, pos: Long)
      : Option[(Map[String, String], Long)] = {
    val header = Seq.newBuilder[String]
    var ended = false
    var hPos = pos
    while (!ended && hPos + BlockSize <= rd.size) {
      val text = new String(rd.readAt(hPos, BlockSize).array(), "ASCII")
      (0 until BlockSize / CardSize).foreach { i =>
        val card = text.substring(i * CardSize, (i + 1) * CardSize)
        if (card.take(8).trim == "END") ended = true
        else if (!ended) header += card
      }
      hPos += BlockSize
    }
    if (ended) Some((headerCards(header.result()), hPos)) else None
  }

  /** [[headerAt]], failing (naming `what`) when the header has no END. */
  private[sources] def requireHeaderAt(rd: SlabIO.SlabReader, pos: Long,
                                       what: String)
      : (Map[String, String], Long) = {
    val header = headerAt(rd, pos)
    require(header.isDefined, s"unterminated $what header")
    header.get
  }

  /** Walk every HDU in the file: read header blocks to END, compute the
    * data-unit length from BITPIX/NAXISn, skip to the next HDU. An HDU
    * whose declared data unit extends past EOF (a transfer truncated
    * mid-slab) is NOT emitted — its timestep must surface as a flagged
    * missing slab, never as silently zero-filled visibilities.
    */
  def scanHdus(rd: SlabIO.SlabReader): Seq[Hdu] = {
    val size = rd.size
    val out = Seq.newBuilder[Hdu]
    var pos = 0L
    while (pos + BlockSize <= size) {
      // trailing garbage (no END) — stop
      val (cards, hPos) = headerAt(rd, pos).getOrElse(return out.result())
      val bitpix = cards.getOrElse("BITPIX", "8").toInt
      val naxis = cards.getOrElse("NAXIS", "0").toInt
      val dataLen = if (naxis == 0) 0L
        else (1 to naxis)
          .map(i => cards.getOrElse(s"NAXIS$i", "0").toLong)
          .product * (math.abs(bitpix) / 8)
      if (hPos + dataLen > size) return out.result() // truncated HDU
      val padded = (dataLen + BlockSize - 1) / BlockSize * BlockSize
      out += Hdu(cards, hPos, dataLen)
      pos = hPos + padded
    }
    out.result()
  }

  /** Decode one gpubox FITS file into long-format rows, one slab read
    * at a time (bounded memory, any Hadoop filesystem).
    */
  def decodeFile(path: String, nAnts: Int,
                 conf: org.apache.hadoop.conf.Configuration =
                   new org.apache.hadoop.conf.Configuration())
      : Iterator[Row] = {
    val rd = new SlabIO.SlabReader(path, conf)
    try {
      val hdus = scanHdus(rd)
      require(hdus.nonEmpty, s"no HDUs in $path")
      val primary = hdus.head.cards
      val cc = primary.getOrElse("CHANNEL", "0").toLong
      val nTs = primary.getOrElse("NSCANS", "0").toInt
      val fpc = primary.getOrElse("FINECHAN", "0").toInt
      val pairs = GpuboxSource.antPairs(nAnts)
      val nBl = pairs.length
      val slabFloats = nBl * fpc * 8
      val images = hdus.tail
      images.foreach { h =>
        require(h.dataLen == slabFloats.toLong * 4,
          s"HDU data ${h.dataLen} != expected ${slabFloats * 4}")
      }
      val iter = (0 until nTs).iterator.flatMap { t =>
        // null: a missing slab, decoded as flagged zeros
        val slab: ByteBuffer = if (t < images.length)
          rd.readAt(images(t).dataPos, slabFloats * 4)
            .order(ByteOrder.BIG_ENDIAN) // FITS data are big-endian
        else null
        pairs.iterator.zipWithIndex.flatMap { case ((a1, a2), blIdx) =>
          (0 until fpc).iterator.map { fc =>
            GpuboxSource.cell(t, a1, a2, nAnts, cc, fc, fpc, slab,
              4 * ((blIdx * fpc + fc) * 8))
          }
        }
      }
      SlabIO.closeOnExhaust(iter)(() => rd.close())
    } catch {
      case e: Throwable => rd.close(); throw e
    }
  }

  /** Read a directory of `*.fits` gpubox files into the long-format vis
    * frame — one task per file, each streaming slab-by-slab.
    */
  def read(spark: SparkSession, dir: String, nAnts: Int): DataFrame = {
    val paths = SlabIO.listPaths(spark, dir, ".fits")
    require(paths.nonEmpty, s"no .fits files under $dir")
    val sconf = SlabIO.serializableConf(spark)
    val rows = spark.sparkContext
      .parallelize(paths, paths.length)
      .flatMap(p => decodeFile(p, nAnts, sconf.value))
    spark.createDataFrame(rows, GpuboxSource.schema)
  }

  private def card(key: String, value: String): String =
    (key.take(8).padTo(8, ' ') + "= " +
      value.reverse.padTo(20, ' ').reverse).padTo(CardSize, ' ')

  private def headerBlock(cards: Seq[String]): Array[Byte] = {
    val s = cards.mkString + "END".padTo(CardSize, ' ')
    (s + " " * ((BlockSize - s.length % BlockSize) % BlockSize))
      .getBytes("ASCII")
  }

  /** Write a FITS-encoded fixture with the same lineage-encoded values
    * as [[GpuboxSource.writeFixture]] (cc·1e5 + t·1e4 + bl·100 + fc·10
    * + k), `presentSlabs` image HDUs out of `nTs` announced scans.
    */
  def writeFixture(path: String, cc: Int, nTs: Int, nAnts: Int, fpc: Int,
                   presentSlabs: Int): Unit = {
    val pairs = GpuboxSource.antPairs(nAnts)
    val nBl = pairs.length
    val slabFloats = nBl * fpc * 8
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path))
    out.write(headerBlock(Seq(
      card("SIMPLE", "T"), card("BITPIX", "8"), card("NAXIS", "0"),
      card("CHANNEL", cc.toString), card("NSCANS", nTs.toString),
      card("FINECHAN", fpc.toString))))
    for (t <- 0 until presentSlabs) {
      out.write(headerBlock(Seq(
        card("XTENSION", "'IMAGE   '"), card("BITPIX", "-32"),
        card("NAXIS", "2"), card("NAXIS1", (fpc * 8).toString),
        card("NAXIS2", nBl.toString), card("PCOUNT", "0"),
        card("GCOUNT", "1"))))
      val buf = ByteBuffer.allocate(slabFloats * 4)
        .order(ByteOrder.BIG_ENDIAN)
      for (blIdx <- 0 until nBl; fc <- 0 until fpc; k <- 0 until 8)
        buf.putFloat((cc * 1e5 + t * 1e4 + blIdx * 100 + fc * 10 + k)
          .toFloat)
      out.write(buf.array())
      val pad = ((BlockSize - (slabFloats * 4) % BlockSize) % BlockSize)
      out.write(new Array[Byte](pad))
    }
    out.close()
  }
}
