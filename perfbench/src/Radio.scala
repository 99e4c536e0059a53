package perfbench

import java.nio.file.{Files, Path}

import graft.Cli
import graft.api.Graft
import graft.ops.{Preprocess, RfiStrategy}
import graft.sinks.{MsContainer, MwafWriter, UvfitsWriter}
import graft.sources.{FitsGpubox, MwafReader, SlabIO, UvfitsReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An observation run end to end through `graft.Cli.run`. */
final case class Radio(name: String, shape: ObsShape, sink: String,
                       avgT: Int, avgF: Int, extraArgs: Seq[String],
                       vanVleck: Boolean, rfi: Boolean)
    extends Workload {

  type In = ObsFiles

  def gen(spark: SparkSession, dir: Path, seed: Long): ObsFiles =
    Gen.writeObs(dir, shape, seed)

  override def inputStats(in: ObsFiles): Seq[(String, Long)] = Seq(
    "cells" -> shape.cells, "rfi_injected_cells" -> in.rfiCells,
    "vv_cross_calls" -> in.crossCalls,
    "vv_distinct_triples" -> in.distinctTriples)

  def inputMiB(in: ObsFiles): Double = in.gpuboxBytes / 1048576.0
  def cells(in: ObsFiles): Long = shape.cells

  private def outPath(in: ObsFiles): Path = in.dir.resolve(sink match {
    case "uvfits" => "out.uvfits"
    case "ms" => "out.ms"
    case _ => "flags"
  })

  def config(in: ObsFiles): Cli.Config = {
    val out = outPath(in).toString
    val sinkArgs = sink match {
      case "uvfits" => Seq("-u", out)
      case "ms" => Seq("-M", out)
      case _ => Seq("--flag-out", out)
    }
    Cli.parse(Seq("--gpubox", in.gpuboxDir.toString, "-m",
      in.metafits.toString, "--avg-time", avgT.toString, "--avg-freq",
      avgF.toString) ++ sinkArgs ++ extraArgs) match {
      case Right(c) => c
      case Left(e) => sys.error(s"$name: bad CLI arguments: $e")
    }
  }

  def run(spark: SparkSession, in: ObsFiles): Unit = {
    if (sink == "mwaf") Files.createDirectories(outPath(in))
    Cli.run(spark, config(in), _ => ())
  }

  private def nTout: Int = shape.nScans / avgT
  private def nCout: Int = shape.nChans / avgF
  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Reads the output back with the repo's own readers: row counts
    * against the shape, and every output cell of the missing-HDU slab
    * flagged (the reference's missing-HDU semantics) while the same
    * time bin of the other coarse channels is not. Any miss throws
    * [[CheckFailed]], so a run that returns has its slab fully
    * flagged, and the returned recall is 1.0.
    */
  def check(spark: SparkSession, in: ObsFiles): Double = {
    val out = outPath(in).toString
    val slabChans = shape.fpc / avgF // output channels of coarse chan 0
    sink match {
      case "uvfits" =>
        val rd = new SlabIO.SlabReader(out, conf(spark))
        val h = try UvfitsReader.readHeader(rd) finally rd.close()
        need(h.gcount == nTout.toLong * shape.nBl,
          s"uvfits groups ${h.gcount} != ${nTout * shape.nBl}")
        need(h.nChans == nCout, s"uvfits chans ${h.nChans} != $nCout")
        val df = UvfitsReader.read(spark, out, shape.nTiles,
          Gen.GpsTime.toDouble, shape.intTimeS * avgT)
        val last = df.agg(max("t_out")).head().getLong(0)
        val r = df.agg(count(lit(1)),
          countDistinct(col("t_out")),
          sum(when(col("t_out") === last && col("c_out") < slabChans, 1)
            .otherwise(0)),
          sum(when(col("t_out") === last && col("c_out") < slabChans &&
            col("weight_out") <= 0, 1).otherwise(0)),
          sum(when(col("t_out") === last && col("c_out") >= slabChans &&
            col("weight_out") > 0, 1).otherwise(0))).head()
        need(r.getLong(0) == h.gcount * nCout,
          s"uvfits rows ${r.getLong(0)} != ${h.gcount * nCout}")
        need(r.getLong(1) == nTout, s"uvfits times ${r.getLong(1)} != $nTout")
        need(r.getLong(2) > 0 && r.getLong(3) == r.getLong(2),
          s"uvfits: ${r.getLong(3)} of ${r.getLong(2)} slab cells flagged")
        need(r.getLong(4) > 0, "uvfits: last bin flagged on every channel")
      case "ms" =>
        val c = conf(spark)
        val (rows, _, _, _) = MsContainer.audit(out, c)
        MsContainer.subtableNames.foreach(t =>
          MsContainer.audit(s"$out/$t", c))
        need(rows == nTout.toLong * shape.nBl,
          s"MS rows $rows != ${nTout * shape.nBl}")
        val dec = MsContainer.readTable(out, c)
        val time = dec.num("TIME").map(_.head)
        val last = time.max
        var slab = 0L
        var slabFlagged = 0L
        var otherOpen = 0L
        dec.num("FLAG").indices.filter(time(_) == last).foreach { r =>
          val f = dec.num("FLAG")(r)
          need(f.length == 4 * nCout, s"MS FLAG cell ${f.length} != ${4 * nCout}")
          (0 until nCout).foreach { ch =>
            val all = (0 until 4).forall(p => f(ch * 4 + p) != 0.0)
            if (ch < slabChans) { slab += 1; if (all) slabFlagged += 1 }
            else if (!all) otherOpen += 1
          }
        }
        need(slab > 0 && slabFlagged == slab,
          s"MS: $slabFlagged of $slab slab cells flagged")
        need(otherOpen > 0, "MS: last bin flagged on every channel")
      case _ =>
        val df = MwafReader.read(spark, out)
        val miss = shape.nScans - shape.missingTail
        val full = (1L << 32) - 1 // one 32-channel flag word, all set
        val allSet = expr(s"forall(flag_words, w -> w = $full)")
        val r = df.agg(count(lit(1)),
          sum(when(col("cc") === 0 && col("t") >= miss, 1).otherwise(0)),
          sum(when(col("cc") === 0 && col("t") >= miss && allSet, 1)
            .otherwise(0)),
          sum(when(col("cc") =!= 0 && col("t") === miss && !allSet, 1)
            .otherwise(0))).head()
        val want = shape.nCoarse.toLong * shape.nScans * shape.nBl
        need(r.getLong(0) == want, s"mwaf rows ${r.getLong(0)} != $want")
        need(r.getLong(1) > 0 && r.getLong(2) == r.getLong(1),
          s"mwaf: ${r.getLong(2)} of ${r.getLong(1)} slab rows flagged")
        need(r.getLong(3) > 0, "mwaf: missing step flagged everywhere")
    }
    1.0
  }

  // ---- traced pass ------------------------------------------------------

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-layer self times: each step is one public call (or chain of
    * calls) written to the noop sink, on freshly generated input of the
    * same shape, so the Van Vleck memo is as cold as in a timed run.
    * A stage's self time is its step minus the step before it.
    */
  def layers(spark: SparkSession, fresh: () => ObsFiles,
             span: Span): Map[String, Double] = {
    val out = scala.collection.mutable.Map[String, Double]()
    def pipeline(in: ObsFiles) = {
      val cfg = config(in)
      val g = Graft(spark).withMetafits(in.metafits.toString)
      val meta = Cli.decorate(g.meta, cfg)
      val pb = Cli.passbandSelect(cfg, meta)._2
      def pre(on: Set[String]) = Preprocess(
        vanVleck = on("van_vleck"), sampleScale = meta.vvSampleScale(),
        cable = on("cable"), digitalGains = on("digital_gains"),
        passband = on("passband") && pb.isDefined, rfi = on("rfi"),
        geometry = on("geometry"), calibrate = false,
        pfbVersion = pb.map(_._1), pfbOversampled = pb.exists(_._2),
        meta = meta, rfiStrategy = RfiStrategy(),
        phaseCentre = Cli.effectivePhaseCentre(cfg, meta))
      val flagged = g.copy(meta = meta)
        .fitsObservation(in.gpuboxDir.toString, meta.nAnts)
        .withRawDefaults().withDefaultFlags()
        .withWeights(meta.weightFactor)
      (cfg, meta, pre _, flagged)
    }

    val decodeIn = fresh()
    val decodeS = span.time("sources") {
      noop(FitsGpubox.read(spark, decodeIn.gpuboxDir.toString,
        shape.nTiles))
    }
    out("sources.decode_s") = decodeS
    out("sources.decode_mib_per_s") = inputMiB(decodeIn) / decodeS

    val flagsS = span.time("ops") { noop(pipeline(fresh())._4.df) }
    out("ops.flags_weights_s") = flagsS - decodeS

    val order = Seq("van_vleck", "cable", "digital_gains", "passband",
      "rfi", "geometry")
    val active = order.filter {
      case "van_vleck" => vanVleck
      case "rfi" => rfi
      case _ => true
    }
    var prev = flagsS
    var enabled = Set.empty[String]
    order.foreach { stage =>
      if (active.contains(stage)) {
        enabled += stage
        val (_, _, pre, vf) = pipeline(fresh())
        val on = enabled
        val s = span.time("ops") { noop(vf.preprocess(pre(on)).df) }
        out(s"ops.${stage}_s") = s - prev
        prev = s
      } else out(s"ops.${stage}_s") = span.time("ops") {}
    }

    val in = fresh()
    val (cfg, meta, pre, vf) = pipeline(in)
    val all = pre(active.toSet)
    val processed = vf.preprocess(all)
    if (rfi) {
      // cells newly flagged by the detector over the cells it examined,
      // on one input: the chain without RFI against the chain with it
      def flags(p: Preprocess) =
        vf.preprocess(p).df.agg(sum(col("flag").cast("long"))).head().getLong(0)
      val before = flags(pre(active.toSet - "rfi"))
      out("ops.rfi_flag_share") =
        (flags(all) - before).toDouble / shape.cells
    } else out("ops.rfi_flag_share") = 0.0

    if (sink != "mwaf") {
      val avgS = span.time("ops") {
        noop(processed.averaged(avgT, avgF))
      }
      out("ops.averaging_s") = avgS - prev
    } else out("ops.averaging_s") = span.time("ops") {}

    // the sink on a checkpoint of its own input
    val sinkIn =
      if (sink == "mwaf") processed.df.localCheckpoint(eager = true)
      else processed.averaged(avgT, avgF).localCheckpoint(eager = true)
    val target = outPath(in)
    val phase = Cli.effectivePhaseCentre(cfg, meta)
    Seq("uvfits", "ms", "mwaf").foreach { k =>
      out(s"sinks.${k}_s") = span.time("sinks") {
        if (k == sink) k match {
          case "uvfits" =>
            UvfitsWriter.write(sinkIn, target.toString,
              Some(all.uvwTable(spark)), meta.intTimeS, avgT,
              meta.gpsStartS, Some(meta.antenna(spark)),
              baseFreqHz = meta.baseFreqHz)
          case "ms" =>
            MsContainer.write(sinkIn, all.uvwTable(spark),
              meta.antenna(spark), target.toString, avgT, avgF, meta, phase)
          case _ =>
            Files.createDirectories(target)
            MwafWriter.write(sinkIn, target.toString, meta = meta)
        }
      }
    }
    out("sinks.out_mib") = Files.walk(target).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum() / 1048576.0
    out.toMap
  }

  def pipelineS(layers: Map[String, Double]): Double =
    layers("sources.decode_s") + layers("ops.flags_weights_s") +
      Seq("van_vleck", "cable", "digital_gains", "passband", "rfi",
        "geometry", "averaging").map(s => layers(s"ops.${s}_s")).sum +
      layers(s"sinks.${sink}_s")

  private def need(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(s"$name: $msg")
}
