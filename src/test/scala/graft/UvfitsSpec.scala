package graft

import java.nio.file.{Files, Paths}

import graft.model.Dims
import graft.ops._
import graft.sinks.UvfitsWriter
import graft.synth.VisSynth
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Structural checks on the uvfits exporter: FITS block alignment,
  * header cards, group count = distinct (t_out, bl) — the reference's
  * row-count invariant (/root/reference/src/io/mwaf.rs:504-510).
  */
class UvfitsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("uvfits export: block-aligned, header sane, row count invariant") {
    val dir = "/root/testdata/sf0.001"
    val vis = VisSynth.vis(spark, dir)
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(vis,
      Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark)))
    val avg = Averaging.avgTimeFreq(weighted, 2, 2)

    val tmp = Files.createTempDirectory("uvf").toString + "/out.uvfits"
    val n = UvfitsWriter.write(avg, tmp)

    val expected = avg.select("t_out", "bl").distinct().count()
    assert(n == expected)

    val bytes = Files.readAllBytes(Paths.get(tmp))
    assert(bytes.length % 2880 == 0, s"not block aligned: ${bytes.length}")
    val header = new String(bytes.take(2880), "ASCII")
    assert(header.startsWith("SIMPLE  =                    T"))
    assert(header.contains("GROUPS  =                    T"))
    assert(header.contains(s"GCOUNT  =" + " " * (21 - n.toString.length)
      + n.toString))
    // first group's BASELINE param (param index 5 after the two DATE
    // params, big-endian float32)
    val buf = java.nio.ByteBuffer.wrap(bytes, 2880 + 20, 4)
    val blParam = buf.getFloat()
    val a1 = (blParam / 256).toInt
    assert(a1 >= 1 && a1 <= 8, s"baseline param $blParam")
    // the two DATE params distinguish timesteps: day fraction ulp ≪ 2 s
    val frac = java.nio.ByteBuffer.wrap(bytes, 2880 + 16, 4).getFloat()
    assert(frac >= 0.0f && frac < 1.0f)
  }

  test("uvfits write runs one aggregate and one encode over its input") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(
      VisSynth.vis(spark, "/root/testdata/sf0.001"), Dims.timestep(spark),
      Dims.chan(spark), Dims.baseline(spark)))
    val avg = Averaging.avgTimeFreq(weighted, 2, 2)
    // listener events arrive in order on one queue: the sentinel's
    // event marks the end of the writer's
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val plans = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution,
                             ns: Long): Unit = seen.add(
        if (plans.find(qe.executedPlan)(_.nodeName == "Range").nonEmpty)
          "sentinel"
        else if (plans.find(qe.executedPlan)(
          _.nodeName.contains("Aggregate")).nonEmpty) s"$name: aggregate"
        else s"$name: no aggregate")
      override def onFailure(name: String, qe: QueryExecution,
                             e: Exception): Unit = seen.add(s"$name: failed")
    }
    val tmp = Files.createTempDirectory("uvq").toString + "/q.uvfits"
    spark.listenerManager.register(listener)
    val events = try {
      UvfitsWriter.write(avg, tmp)
      spark.range(1).collect()
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && e != "sentinel").toList
    } finally spark.listenerManager.unregister(listener)
    // the metadata pass, then the encode (`Dataset.rdd`)
    assert(events == List("head: aggregate", "rdd: no aggregate"), events)
  }

  test("part boundaries: a group straddling two parts, or parts out " +
    "of order, fail and name both parts") {
    import UvfitsWriter.{Part, requireDisjointGroups}
    def part(idx: Int, first: (Long, Long), last: (Long, Long)) =
      Part(idx, 2, Some(first), Some(last))
    val empty = Part(1, 0, None, None)
    // disjoint, with an empty part between
    requireDisjointGroups(Seq(part(0, (0, 0), (0, 5)), empty,
      part(2, (0, 6), (1, 3))))
    val straddle = intercept[IllegalArgumentException](
      requireDisjointGroups(Seq(part(0, (0, 0), (0, 5)), empty,
        part(2, (0, 5), (1, 3)))))
    assert(straddle.getMessage.contains("part 0") &&
      straddle.getMessage.contains("part 2"), straddle.getMessage)
    val outOfOrder = intercept[IllegalArgumentException](
      requireDisjointGroups(Seq(part(0, (1, 0), (1, 5)),
        part(1, (0, 0), (0, 7)))))
    assert(outOfOrder.getMessage.contains("part 0") &&
      outOfOrder.getMessage.contains("part 1"), outOfOrder.getMessage)
  }

  test("uvfits header: a quoted value holding '/' reads back exactly") {
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(
      VisSynth.vis(spark, "/root/testdata/sf0.001"), Dims.timestep(spark),
      Dims.chan(spark), Dims.baseline(spark)))
    val tmp = Files.createTempDirectory("uvobj").toString + "/o.uvfits"
    val n = UvfitsWriter.write(Averaging.avgTimeFreq(weighted, 2, 2), tmp)
    // rewrite the OBJECT card in place
    val bytes = Files.readAllBytes(Paths.get(tmp))
    val at = new String(bytes.take(2880), "ASCII").indexOf("OBJECT  =")
    assert(at >= 0 && at % 80 == 0)
    "OBJECT  = 'A/B'".padTo(80, ' ').getBytes("ASCII")
      .copyToArray(bytes, at)
    Files.write(Paths.get(tmp), bytes)
    // the local filesystem's checksum would now refuse the patched file
    Files.deleteIfExists(Paths.get(tmp).resolveSibling(".o.uvfits.crc"))
    val rd = new graft.sources.SlabIO.SlabReader(tmp,
      spark.sparkContext.hadoopConfiguration)
    val h = try graft.sources.UvfitsReader.readHeader(rd) finally rd.close()
    assert(h.cards("OBJECT") == "A/B")
    assert(h.cards("TELESCOP") == "MWA")
    assert(h.gcount == n)
  }

  test("encode-parallelism invariance: an encodePartitions override " +
    "yields a byte-identical uvfits file (slice offsets are computed, " +
    "not partition-relative)") {
    val dir = "/root/testdata/sf0.001"
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(
      VisSynth.vis(spark, dir), Dims.timestep(spark), Dims.chan(spark),
      Dims.baseline(spark)))
    val avg = Averaging.avgTimeFreq(weighted, 2, 2)
    val tmpA = Files.createTempDirectory("uvpa").toString + "/a.uvfits"
    val tmpB = Files.createTempDirectory("uvpb").toString + "/b.uvfits"
    UvfitsWriter.write(avg, tmpA)
    spark.conf.set("spark.graft.sink.encodePartitions", "3")
    try UvfitsWriter.write(avg, tmpB)
    finally spark.conf.unset("spark.graft.sink.encodePartitions")
    val a = Files.readAllBytes(Paths.get(tmpA))
    val b = Files.readAllBytes(Paths.get(tmpB))
    assert(java.util.Arrays.equals(a, b),
      "uvfits bytes must be invariant to the encode partition count")
  }

  test("uvfits round trip: reader recovers the writer's frame at f32") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val vis = VisSynth.vis(spark, dir)
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(vis,
      Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark)))
    val avg = Averaging.avgTimeFreq(weighted, 2, 2)
    val tmp = Files.createTempDirectory("uvf_rt").toString + "/rt.uvfits"
    UvfitsWriter.write(avg, tmp)

    val back = graft.sources.UvfitsReader.read(spark, tmp, nAnts = 8)
    // the file is DENSE per group (every channel slot), the averaged
    // frame is sparse (fully-flagged cells are absent) — the reader
    // must return exactly groups x channels rows
    assert(back.count() ==
      avg.select("t_out", "bl").distinct().count() * 16)

    // every averaged row survives with its payload at f32 precision
    val keyed = avg.select(
      Seq(col("t_out"), col("bl"), col("ant1"), col("ant2"),
        col("c_out"),
        col("weight_out").cast("float").as("wexp")) ++
        (0 until 8).map(k =>
          col(s"a$k").cast("float").as(s"w$k")): _*)
    val joined = keyed.join(back,
      Seq("t_out", "bl", "ant1", "ant2", "c_out"), "inner")
    assert(joined.count() == avg.count(),
      "every written cell must read back under its exact key")
    val mismatches = joined.where(
      (0 until 8).map(k =>
        col(s"w$k") =!= col(s"a$k").cast("float"))
        .reduce(_ || _) ||
        col("wexp") =!= col("weight_out").cast("float"))
      .count()
    assert(mismatches == 0, s"$mismatches payload mismatches")

    // cells absent from the frame read back as the writer's zero fill
    val filler = back.join(keyed,
      Seq("t_out", "bl", "ant1", "ant2", "c_out"), "left_anti")
    val nonZeroFill = filler.where(
      (0 until 8).map(k => col(s"a$k") =!= 0.0).reduce(_ || _) ||
        col("weight_out") =!= 0.0).count()
    assert(nonZeroFill == 0, s"$nonZeroFill non-zero filler cells")

    // a structure-only write (no UVW table) zeroes the UU VV WW params
    assert(back.where(col("u_s") =!= 0.0 || col("v_s") =!= 0.0 ||
      col("w_s") =!= 0.0).count() == 0)
  }

  test("AIPS AN table: metafits tile names and positions round-trip") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val metafits = graft.synth.MetafitsSynth.write(
      Files.createTempDirectory("uvf_an").resolve("an.metafits")
        .toString)
    val meta = graft.sources.MetafitsMeta(
      graft.sources.MetafitsReader.read(metafits))
    val vis = VisSynth.vis(spark, dir)
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(vis,
      Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark)))
    val avg = Averaging.avgTimeFreq(weighted, 2, 2)
    val tmp = Files.createTempDirectory("uvf_an2").toString +
      "/an.uvfits"
    UvfitsWriter.write(avg, tmp, antenna = Some(meta.antenna(spark)))

    val an = graft.sources.UvfitsReader.readAntennaTable(spark, tmp)
    assert(an.count() == 8)
    // container tile names (MetafitsSynth: TileN), 1-based NOSTA,
    // X/Y linear feeds
    val r0 = an.where(col("nosta") === 1).head()
    assert(r0.getAs[String]("anname") == "Tile0")
    assert(r0.getAs[String]("poltya") == "X")
    assert(r0.getAs[Double]("polab_deg") == 90.0)
    assert(an.where(col("mntsta") =!= 0).count() == 0)
    // ENH -> XYZ at the geometry latitude: ant 0 has N=-50 E=-150
    // H=377 (dyadic), so the f64 stored positions are exactly the
    // driver-side transform
    val (sl, cl) = (math.sin(GeometryCorrection.LatRad),
      math.cos(GeometryCorrection.LatRad))
    assert(r0.getAs[Double]("stab_x_m") == -(-50.0) * sl + 377.0 * cl)
    assert(r0.getAs[Double]("stab_y_m") == -150.0)
    assert(r0.getAs[Double]("stab_z_m") == -50.0 * cl + 377.0 * sl)

    // a file written WITHOUT an antenna dim has no AN HDU — loud error
    val bare = Files.createTempDirectory("uvf_an3").toString +
      "/bare.uvfits"
    UvfitsWriter.write(avg, bare)
    val ex = intercept[RuntimeException] {
      graft.sources.UvfitsReader.readAntennaTable(spark, bare)
    }
    assert(ex.getMessage.contains("no AIPS AN extension"))
  }

  test("uvfits UVW group params round-trip the partial-UVW differences") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val vis = VisSynth.vis(spark, dir)
    val weighted = WeightOps.flagToWeight(FlagOps.setFlags(vis,
      Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark)))
    val avg = Averaging.avgTimeFreq(weighted, 2, 2)
    val uvw = GeometryCorrection.partUvw(Dims.timestep(spark),
      Dims.antenna(spark))
    val tmp = Files.createTempDirectory("uvf_uvw").toString + "/uvw.uvfits"
    UvfitsWriter.write(avg, tmp, Some(uvw))

    val back = graft.sources.UvfitsReader.read(spark, tmp, nAnts = 8)
      .select("t_out", "ant1", "ant2", "u_s", "v_s", "w_s").distinct()
    assert(back.where(col("u_s") =!= 0.0 || col("v_s") =!= 0.0 ||
      col("w_s") =!= 0.0).count() > 0, "UVW params must be non-zero")

    // expected: (part(ant1) - part(ant2)) / c at the window CENTROID
    // input timestep (t_out*2 + 1 for avgTime=2 — the same instant the
    // DATE params stamp), at f32 — exactly what the group params hold
    val c = graft.model.Obs.SpeedOfLight
    val u1 = uvw.select(col("t").as("t_uvw"), col("ant").as("ant1"),
      col("u_m").as("u1"), col("v_m").as("v1"), col("w_m").as("w1"))
    val u2 = uvw.select(col("t").as("t_uvw"), col("ant").as("ant2"),
      col("u_m").as("u2"), col("v_m").as("v2"), col("w_m").as("w2"))
    val expected = avg.select("t_out", "ant1", "ant2").distinct()
      .withColumn("t_uvw", col("t_out") * 2 + 1)
      .join(u1, Seq("t_uvw", "ant1")).join(u2, Seq("t_uvw", "ant2"))
      .select(col("t_out"), col("ant1"), col("ant2"),
        ((col("u1") - col("u2")) / c).cast("float").cast("double")
          .as("eu"),
        ((col("v1") - col("v2")) / c).cast("float").cast("double")
          .as("ev"),
        ((col("w1") - col("w2")) / c).cast("float").cast("double")
          .as("ew"))
    val joined = back.join(expected, Seq("t_out", "ant1", "ant2"))
    assert(joined.count() == back.count())
    val bad = joined.where(col("u_s") =!= col("eu") ||
      col("v_s") =!= col("ev") || col("w_s") =!= col("ew")).count()
    assert(bad == 0, s"$bad UVW mismatches vs partUvw differences")
  }
}
