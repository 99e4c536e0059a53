package graft

import java.nio.file.{Files, Paths}

import graft.model.{Dims, Obs}
import graft.ops.FlagOps
import graft.sinks.MwafWriter
import graft.synth.VisSynth
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** mwaf sink: one file per coarse channel, dense row grid, header keys,
  * block alignment.
  */
class MwafSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("mwaf write: per-cc files, dense rows, aligned, flags present") {
    val dir = Files.createTempDirectory("mwaf").toString
    val flagged = FlagOps.setFlags(
      VisSynth.vis(spark, "/root/testdata/sf0.001"),
      Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark))
    val counts = MwafWriter.write(flagged, dir)
    assert(counts.keySet == Set(0L, 1L, 2L, 3L))
    val expectRows = Obs.NumTimesteps * 36 // dense grid: 16 ts x 36 bl
    counts.values.foreach(n => assert(n == expectRows))
    for (cc <- 0 until 4) {
      val bytes = Files.readAllBytes(Paths.get(s"$dir/flags_$cc.mwaf"))
      assert(bytes.length % 2880 == 0)
      val head = new String(bytes.take(2880), "ASCII")
      assert(head.startsWith("SIMPLE  =                    T"))
      assert(head.contains("NSCANS"))
      // at least one flagged fine-channel bit somewhere in the payload
      assert(bytes.drop(2880).exists(_ != 0))
    }
  }

  test("bitmask splits fine channels across 32-chan words; out-of-" +
    "range fc fails loudly") {
    import spark.implicits._
    // 32-chan words: fc 40 is bit 8 of word 1, fc 63 bit 31 of word 1,
    // fc 100 bit 4 of word 3, fc 127 bit 31 of word 3 — a single-long
    // (or 64-chan-word) layout would fold these together
    val wide = Seq((0L, 0L, 0L, 40L, true), (0L, 0L, 0L, 2L, true),
      (0L, 0L, 0L, 63L, true), (0L, 0L, 0L, 100L, true),
      (0L, 0L, 0L, 127L, true), (0L, 0L, 0L, 10L, false))
      .toDF("cc", "bl", "t", "fc", "flag")
    val words = graft.sinks.Sinks.mwafBitmask(wide, 128)
      .select("flag_words").head().getSeq[Long](0)
    assert(words == Seq(1L << 2, (1L << 8) | (1L << 31), 0L,
      (1L << 4) | (1L << 31)), s"got words $words")

    // an fc outside [0, fpc) must raise, never silently vanish from
    // every word
    val bad = Seq((0L, 0L, 0L, 130L, true))
      .toDF("cc", "bl", "t", "fc", "flag")
    val ex = intercept[Exception] {
      graft.sinks.Sinks.mwafBitmask(bad, 128).collect()
    }
    assert(ex.getMessage != null)
  }

  test("128-chan (legacy 10 kHz) container writes and round-trips: " +
    "16-byte X rows, bits at the word boundaries, CH_OCC width") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val meta128 = graft.model.MetaDecorators.ChanWidth(
      graft.model.SynthDims, 128)
    // one present cell with bits straddling every word boundary —
    // 0, 31, 32, 63, 64, 95, 96, 127
    val marks = Seq(0L, 31L, 32L, 63L, 64L, 95L, 96L, 127L)
    val vis = marks.map(fc => (0L, 0L, 0L, fc, true))
      .toDF("cc", "bl", "t", "fc", "flag")
    val dir = Files.createTempDirectory("mwaf_128").toString
    val counts = MwafWriter.write(vis, dir, meta = meta128)
    assert(counts.keySet == Set(0L))
    val bytes = Files.readAllBytes(Paths.get(s"$dir/flags_0.mwaf"))
    assert(bytes.length % 2880 == 0)
    val back = graft.sources.MwafReader.read(spark, dir)
    val present = back.where(col("t") === 0 && col("bl") === 0)
      .select("flag_words", "n_chans").head()
    val expectWords =
      Seq((1L << 0) | (1L << 31), (1L << 0) | (1L << 31),
        (1L << 0) | (1L << 31), (1L << 0) | (1L << 31))
    assert(present.getSeq[Long](0) == expectWords)
    assert(present.getLong(1) == 128L, "NCHANS from the file header")
    // every absent cell reads back fully flagged at the 128-chan width
    val full = Seq.fill(4)(0xFFFFFFFFL)
    assert(back.where(!(col("t") === 0 && col("bl") === 0))
      .collect().forall(_.getSeq[Long](3) == full))
    // CH_OCC carries one row per fine channel (128), and exactly the
    // marked channels count 1 (plus the absent-cell full flags)
    val conf = spark.sparkContext.hadoopConfiguration
    val chocc = graft.sources.MwafReader
      .readChOcc(s"$dir/flags_0.mwaf", conf)
    assert(chocc.length == 128)
    val totalRows = counts(0L)
    chocc.foreach { case (idx, count, _) =>
      val expect =
        (totalRows - 1) + (if (marks.contains(idx.toLong)) 1 else 0)
      assert(count == expect, s"CH_OCC[$idx] = $count, want $expect")
    }
  }

  test("mwaf header: a quoted value holding '/' reads back exactly") {
    import spark.implicits._
    val vis = Seq((0L, 0L, 0L, 3L, true))
      .toDF("cc", "bl", "t", "fc", "flag")
    val dir = Files.createTempDirectory("mwaf_slash").toString
    MwafWriter.write(vis, dir)
    val path = Paths.get(s"$dir/flags_0.mwaf")
    // rewrite the SOFTWARE card of the primary header in place
    val bytes = Files.readAllBytes(path)
    val at = new String(bytes.take(2880), "ASCII").indexOf("SOFTWARE=")
    assert(at >= 0 && at % 80 == 0)
    "SOFTWARE= 'graft/birli' / writer".padTo(80, ' ').getBytes("ASCII")
      .copyToArray(bytes, at)
    Files.write(path, bytes)
    // the local filesystem's checksum would now refuse the patched file
    Files.deleteIfExists(path.resolveSibling(".flags_0.mwaf.crc"))
    val rd = new graft.sources.SlabIO.SlabReader(path.toString,
      spark.sparkContext.hadoopConfiguration)
    val (cards, _) = try graft.sources.MwafReader.readCards(rd, 0L)
      finally rd.close()
    assert(cards("SOFTWARE") == "graft/birli")
    assert(cards("VERSION") == "2.0")
    assert(graft.sources.MwafReader.read(spark, dir).count() > 0)
  }

  test("mwaf extensions are standard-conforming FITS BINTABLEs " +
    "(mandatory cards, reference column names/types)") {
    val dir = Files.createTempDirectory("mwaf_cards").toString
    val flagged = FlagOps.setFlags(
      VisSynth.vis(spark, "/root/testdata/sf0.001"),
      Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark))
    MwafWriter.write(flagged, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = new graft.sources.SlabIO.SlabReader(s"$dir/flags_0.mwaf",
      conf)
    try {
      import graft.sources.MwafReader.findExt
      // every extension: the BINTABLE mandatory-card set in the
      // standard's order semantics (astropy-parseable), EXTNAME, and
      // the reference's TTYPE/TFORM pairs (mwaf.rs:547-624)
      val expect = Map(
        "FLAGS" -> Seq(("FLAGS", "8X")), // 8 fine chans per coarse
        "CH_OCC" -> Seq(("Index", "1J"), ("Count", "1K"),
          ("Occupancy", "1D")),
        "BL_OCC" -> Seq(("Index", "1J"), ("Antenna1", "1J"),
          ("Antenna2", "1J"), ("Count", "1K"), ("Occupancy", "1D")),
        "TILES" -> Seq(("Antenna", "1J"), ("TileName", "8A")))
      expect.foreach { case (extname, fields) =>
        val (cards, _) = findExt(rd, extname)
        assert(cards("XTENSION") == "BINTABLE", extname)
        assert(cards("BITPIX").toInt == 8, extname)
        assert(cards("NAXIS").toInt == 2, extname)
        assert(cards("PCOUNT").toInt == 0, extname)
        assert(cards("GCOUNT").toInt == 1, extname)
        assert(cards("TFIELDS").toInt == fields.length, extname)
        fields.zipWithIndex.foreach { case ((ttype, tform), i) =>
          assert(cards(s"TTYPE${i + 1}") == ttype,
            s"$extname TTYPE${i + 1}")
          assert(cards(s"TFORM${i + 1}") == tform,
            s"$extname TFORM${i + 1}")
        }
      }
    } finally rd.close()
  }
}
