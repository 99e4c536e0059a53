package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1: raw-correlator binary ingest
  * (reference read_mwalib, /root/reference/src/io/mod.rs:150-319).
  *
  * The reference reads per-(timestep, coarse-chan) FITS HDUs whose float
  * buffers are laid out [baseline][chan][pol][complex]
  * (io/mod.rs:191-202, 258) and flags whole (t, cc) slabs whose HDU is
  * missing (io/mod.rs:297-303). Our simplified container ("GBX1") keeps
  * exactly that slab layout without the FITS wrapping:
  *
  *  - header (LE): magic "GBX1", i32 cc, i32 n_timesteps, i32 n_baselines,
  *    i32 fine_chans_per_coarse
  *  - per timestep slab: n_bl * fpc * 8 float32
  *    in [baseline][chan][pol][re/im] order; a file may be truncated —
  *    missing slabs become flag=true rows.
  *
  * Spark shape: one task per file (one gpubox file per coarse channel —
  * the reference's own granularity), each streaming slab-by-slab
  * through a positioned channel (memory O(slab), never O(file)). At
  * 100 TB the decode is embarrassingly parallel and lands directly in
  * the canonical partitioning (one partition per coarse channel); the
  * parquet mirror is written once and all queries run against it with
  * pushdown.
  */
object GpuboxSource {

  val Magic = "GBX1"

  /** Row schema produced by the decoder. */
  val schema: StructType = StructType(Seq(
    StructField("t", LongType, nullable = false),
    StructField("ant1", LongType, nullable = false),
    StructField("ant2", LongType, nullable = false),
    StructField("bl", LongType, nullable = false),
    StructField("cc", LongType, nullable = false),
    StructField("fc", LongType, nullable = false),
    StructField("chan", LongType, nullable = false)) ++
    (0 until 8).map(k => StructField(s"v$k", DoubleType, nullable = false))
    :+ StructField("flag", BooleanType, nullable = false))

  /** One decoded cell as a row of [[schema]]: the 8 visibility floats
    * at byte `base` of `slab`, or zeros and `flag` for a missing slab
    * (null). Shared by the GBX1 and FITS decoders; the row's 16 slots
    * are filled in one array and wrapped once.
    */
  private[sources] def cell(t: Int, a1: Int, a2: Int, nAnts: Int,
                            cc: Long, fc: Int, fpc: Int, slab: ByteBuffer,
                            base: Int): Row = {
    val v = new Array[Any](16)
    v(0) = t.toLong
    v(1) = a1.toLong
    v(2) = a2.toLong
    v(3) = (a1 * nAnts + a2).toLong
    v(4) = cc
    v(5) = fc.toLong
    v(6) = cc * fpc + fc
    var k = 0
    while (k < 8) {
      v(7 + k) = if (slab == null) 0.0 else slab.getFloat(base + 4 * k).toDouble
      k += 1
    }
    v(15) = slab == null
    new GenericRow(v)
  }

  /** Antenna pairs (ant1 <= ant2) for n antennas, baseline-major order. */
  def antPairs(nAnts: Int): IndexedSeq[(Int, Int)] =
    for (a1 <- 0 until nAnts; a2 <- a1 until nAnts) yield (a1, a2)

  /** Decode one GBX1 file slab-by-slab through positioned Hadoop-FS
    * reads — memory O(slab), never O(file) (multi-GB real gpubox files
    * must not materialise per task; same shape as
    * [[FitsGpubox.decodeFile]]). Incomplete trailing slabs count as
    * missing (flagged).
    */
  def decodeFile(path: String, nAnts: Int,
                 conf: org.apache.hadoop.conf.Configuration =
                   new org.apache.hadoop.conf.Configuration())
      : Iterator[Row] = {
    val rd = new SlabIO.SlabReader(path, conf)
    try {
      val head = rd.readAt(0, 20).order(ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4)
      head.get(magic)
      require(new String(magic, "ASCII") == Magic, "bad GBX1 magic")
      val cc = head.getInt().toLong
      val nTs = head.getInt()
      val nBl = head.getInt()
      val fpc = head.getInt()
      val pairs = antPairs(nAnts)
      require(pairs.length == nBl,
        s"expected ${pairs.length} bl, got $nBl")
      val slabFloats = nBl * fpc * 8
      val headerBytes = 20L
      val availableSlabs =
        (((rd.size - headerBytes) / (slabFloats * 4L)).toInt).min(nTs)
      val iter = (0 until nTs).iterator.flatMap { t =>
        // null: a missing slab, decoded as flagged zeros
        val slab: ByteBuffer = if (t < availableSlabs)
          rd.readAt(headerBytes + slabFloats * 4L * t, slabFloats * 4)
            .order(ByteOrder.LITTLE_ENDIAN)
        else null
        pairs.iterator.zipWithIndex.flatMap { case ((a1, a2), blIdx) =>
          (0 until fpc).iterator.map { fc =>
            cell(t, a1, a2, nAnts, cc, fc, fpc, slab,
              4 * ((blIdx * fpc + fc) * 8))
          }
        }
      }
      SlabIO.closeOnExhaust(iter)(() => rd.close())
    } catch {
      case e: Throwable => rd.close(); throw e
    }
  }

  /** Read a directory of GBX1 files into the long-format vis frame —
    * one task per file, each streaming slab-by-slab (any Hadoop
    * filesystem).
    */
  def read(spark: SparkSession, dir: String, nAnts: Int): DataFrame = {
    val paths = SlabIO.listPaths(spark, dir, ".gbx")
    require(paths.nonEmpty, s"no .gbx files under $dir")
    val sconf = SlabIO.serializableConf(spark)
    val rows = spark.sparkContext
      .parallelize(paths, paths.length)
      .flatMap(p => decodeFile(p, nAnts, sconf.value))
    spark.createDataFrame(rows, schema)
  }

  /** Write one fixture file; cell values are lineage-encoded
    * (cc*1e5 + t*1e4 + bl*100 + chan + pol/10) in the spirit of the
    * reference's 0x41-tagged fixtures (tests/data README).
    */
  def writeFixture(path: String, cc: Int, nTs: Int, nAnts: Int, fpc: Int,
                   presentSlabs: Int): Unit = {
    val pairs = antPairs(nAnts)
    val nBl = pairs.length
    val slabFloats = nBl * fpc * 8
    val buf = ByteBuffer
      .allocate(4 + 16 + presentSlabs * slabFloats * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic.getBytes("ASCII"))
    buf.putInt(cc).putInt(nTs).putInt(nBl).putInt(fpc)
    for (t <- 0 until presentSlabs; blIdx <- 0 until nBl;
         fc <- 0 until fpc; k <- 0 until 8)
      buf.putFloat((cc * 1e5 + t * 1e4 + blIdx * 100 + fc * 10 + k)
        .toFloat)
    Files.write(Paths.get(path), buf.array())
  }
}
