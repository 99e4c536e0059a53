package graft

import graft.model.Dims
import graft.ops.CableCorrection
import graft.sources.MetafitsReader
import graft.synth.{MetafitsSynth, VisSynth}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** S2 real-container loop: write the synthetic observation as a REAL
  * metafits (primary keywords + TILEDATA BINTABLE), parse it back with
  * MetafitsReader, and require the parsed dimension tables to equal the
  * synthetic Dims BIT-FOR-BIT — then run an actual correction on the
  * parsed metadata and demand identity with the synthetic-dims path.
  */
class MetafitsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val mfPath = {
    val dir = java.nio.file.Files.createTempDirectory("metafits")
    MetafitsSynth.write(dir.resolve("synthetic.metafits").toString)
  }
  private lazy val mf = MetafitsReader.read(mfPath)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).toSet

  test("primary keywords: constants round-trip") {
    assert(mf.obsId == 1254670392L)
    assert(mf.intTimeS == 2.0)
    assert(mf.fineChanWidthHz == 40000.0)
    assert(mf.nChans == 32 && mf.nScans == 16)
    assert(mf.coarseChans == Vector(109, 110, 111, 112))
    assert(mf.fineChansPerCoarse == 8)
    assert(mf.quackSteps == 1)
    assert(mf.nAnts == 8)
  }

  test("TILEDATA: X/Y inputs per tile with EL_ lengths and raw gains") {
    assert(mf.inputs.length == 16)
    val a3x = mf.inputs.find(i => i.ant == 3 && i.pol == "X").get
    assert(a3x.elecLenM == 42.0 + 3 * 13.25)
    assert(a3x.eastM == 150.0 && a3x.northM == -50.0)
    assert(a3x.gains == Vector(76, 77, 78, 79))
    val a7y = mf.inputs.find(i => i.ant == 7 && i.pol == "Y").get
    assert(a7y.flagged && a7y.elecLenM == 43.5 + 7 * 13.25)
  }

  test("parsed dimension tables equal the synthetic Dims bit-for-bit") {
    // the parsed table is a strict superset: Dims layout + tile_name
    val parsedAnt = MetafitsReader.antenna(spark, mf)
    assert(rows(parsedAnt.drop("tile_name")) == rows(Dims.antenna(spark)))
    assert(parsedAnt.select("ant", "tile_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      (0L until mf.nAnts).map(a => a -> s"Tile$a").toMap)
    assert(rows(MetafitsReader.digitalGain(spark, mf)) ==
      rows(Dims.digitalGain(spark)))
    assert(rows(MetafitsReader.chan(spark, mf)) ==
      rows(Dims.chan(spark)))
    assert(rows(MetafitsReader.timestep(spark, mf)) ==
      rows(Dims.timestep(spark)))
  }

  test("QUACKTIM that is a non-integer multiple of INTTIME quacks " +
    "ceil(quack/int) steps (reference flags.rs:133+165-172)") {
    val dir = java.nio.file.Files.createTempDirectory("metafits_q")
    val m3 = MetafitsReader.read(MetafitsSynth.write(
      dir.resolve("q3.metafits").toString, quackTimS = Some(3.0)))
    // the reference flags timesteps with unix_time < common_start +
    // trunc(flag_init·1000) ms — at 2 s steps, 3.0 s quacks t0 and t1
    assert(m3.quackTimS == 3.0 && m3.quackSteps == 2)
    val flagged = MetafitsReader.timestep(spark, m3)
      .where(org.apache.spark.sql.functions.col("ts_flag"))
      .select("t").collect().map(_.getLong(0)).sorted
    assert(flagged.toSeq == Seq(0L, 1L, 15L),
      "t0,t1 quacked by ceiling; t15 by flag_end")
    // exact multiple stays exact: 4.0 s quacks exactly 2, not 3
    val m4 = MetafitsReader.read(MetafitsSynth.write(
      dir.resolve("q4.metafits").toString, quackTimS = Some(4.0)))
    assert(m4.quackSteps == 2)
  }

  test("cable correction on parsed metafits == on synthetic dims") {
    val vis = VisSynth.vis(spark, "/root/testdata/sf0.001")
    val onParsed = CableCorrection(vis,
      MetafitsReader.antenna(spark, mf))
    val onSynth = CableCorrection(vis, Dims.antenna(spark))
    assert(rows(onParsed) == rows(onSynth))
  }

  test("long strings: a 24-channel CHANNELS over CONTINUE cards and " +
    "a quoted value holding '/' read back exactly") {
    def card(c: String): String = {
      require(c.length <= 80, s"card longer than 80: $c")
      c.padTo(80, ' ')
    }
    def header(cards: String*): Array[Byte] = {
      val text = (cards :+ "END").map(card).mkString
      text.padTo((text.length + 2879) / 2880 * 2880, ' ')
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    }
    val chans = (131 to 154).mkString(",")
    assert(chans.length == 95, "the list no single card can hold")
    val parts = chans.grouped(40).toVector
    val channelCards =
      s"CHANNELS= '${parts.head}&'" +:
        parts.tail.init.map(p => s"CONTINUE  '$p&'") :+
        s"CONTINUE  '${parts.last}' / receiver channels"
    val primary = header(Seq(
      "SIMPLE  =                    T",
      "BITPIX  =                    8",
      "NAXIS   =                    0") ++ channelCards ++ Seq(
      "TILENOTE= 'rx 3/slot 4, don''t swap' / a comment",
      "NCHANS  =                  768 / fine channels"): _*)
    val table = header(
      "XTENSION= 'BINTABLE'",
      "BITPIX  =                    8",
      "NAXIS   =                    2",
      "NAXIS1  =                    0",
      "NAXIS2  =                    0",
      "PCOUNT  =                    0",
      "GCOUNT  =                    1",
      "TFIELDS =                    0",
      "EXTNAME = 'TILEDATA'")
    val path = java.nio.file.Files.createTempDirectory("metafits_long")
      .resolve("long.metafits")
    java.nio.file.Files.write(path, primary ++ table)
    val m = MetafitsReader.read(path.toString)
    assert(m.coarseChans == (131 to 154).toVector)
    assert(m.keywords("CHANNELS") == chans)
    assert(m.keywords("TILENOTE") == "rx 3/slot 4, don't swap")
    assert(m.nChans == 768 && m.fineChansPerCoarse == 32)
  }
}
