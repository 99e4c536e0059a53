package graft.ops

import graft.model.{Dims, Obs}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fixed preprocessing pipeline
  * (`PreprocessContext::preprocess`, /root/reference/src/preprocessing.rs:178-361).
  *
  * Stage order is a SEMANTIC CONTRACT (preprocessing.rs §kernel order):
  *   Van Vleck → cable → digital gains → PFB passband →
  *   RFI flagging → geometry → DI calibration
  * and each stage is conditional exactly as the reference's CLI decides
  * (skip cable/geometry when the metafits says already applied,
  * /root/reference/src/cli.rs:1389-1399, 1444-1452; Van Vleck only for
  * the legacy correlator, cli.rs:1378-1388).
  *
  * Each member is a pure DataFrame => DataFrame transform, so the whole
  * pipeline is `df.transform(...)` composition — Catalyst fuses all the
  * expression-only stages (C1, C3, C4, C6) into ONE projection over the
  * scan (CollapseProject), which is why the expression-first design beats
  * a UDF-per-stage port: the fused plan reads each row once.
  */
case class Preprocess(vanVleck: Boolean = false,
                      cable: Boolean = true,
                      digitalGains: Boolean = true,
                      passband: Boolean = true,
                      rfi: Boolean = false,
                      geometry: Boolean = true,
                      calibrate: Boolean = true,
                      sampleScale: Double = 2.0,
                      // production knobs: a PUBLISHED gain table
                      // auto-selected by correlator version (None =
                      // the synthetic oracle-gated table), and the
                      // apparent-place ephemeris for geometry
                      pfbVersion: Option[graft.model.PfbTables.MwaVersion]
                        = None,
                      pfbOversampled: Boolean = false,
                      // an EXTERNAL (fc, pfb_gain) table applied as an
                      // OUTPUT correction in place of a built-in PFB
                      // table; takes precedence over pfbVersion. This
                      // is an explicit opt-in — a Lua strategy's
                      // apply_bandpass file must NOT land here (the
                      // reference runs strategies on an ImageSet COPY,
                      // flags.rs RunExisting, so only the flag mask
                      // propagates back) — use rfiBandpass for that.
                      pfbExternal: Option[DataFrame] = None,
                      // an EXTERNAL (fc, pfb_gain) table applied ONLY
                      // to the amplitude grid fed to RFI detection —
                      // the semantics of a strategy's
                      // aoflagger.apply_bandpass(data, file): the
                      // reference executes it on the detection copy
                      // (flags.rs:406-412 via RunExisting) and only
                      // flags flow back; output DATA and WEIGHTS are
                      // never touched by it
                      rfiBandpass: Option[DataFrame] = None,
                      apparentGeometry: Boolean = false,
                      // metadata seam: SynthDims or a parsed metafits
                      // (graft.sources.MetafitsMeta)
                      meta: graft.model.MetaSource =
                        graft.model.SynthDims,
                      rfiStrategy: RfiStrategy = RfiStrategy(),
                      // C6 solutions source: an MWAOCAL binary file
                      // (the reference's production input) instead of
                      // the synthetic calsol dimension
                      aocalPath: Option[String] = None,
                      // J2000 phase centre override (radians) for the
                      // apparent-place geometry (reference
                      // --phase-centre); None keeps the fixed gate
                      // ephemeris constants
                      phaseCentre: Option[(Double, Double)] = None,
                      // array position override (lon, lat radians) for
                      // the apparent-place geometry (reference
                      // --emulate-cotter swaps in Cotter's constants,
                      // cli.rs:1353-1360)
                      arrayPos: Option[(Double, Double)] = None) {

  def apply(spark: SparkSession, vis: DataFrame): DataFrame = {
    // metafits auto-skip: the container says these delays are already
    // applied upstream, so the stage must not run twice (reference CLI
    // decisions, /root/reference/src/cli.rs:1389-1399, 1444-1452)
    val doCable = cable && !meta.cableApplied
    val doGeometry = geometry && !meta.geometryApplied
    val antenna = meta.antenna(spark)
    // the axes the kernel stages run on, in stage order: Van Vleck
    // solves σ per (t, ant, chan) and joins it back per (t, chan); RFI
    // detects per baseline
    val axes = Seq(vanVleck -> Seq("t", "chan"), rfi -> Seq("bl"))
      .collect { case (true, keys) => keys }
    // spread up front so the scan's own width never runs a kernel. A
    // source already laid out on a kernel axis (a bucketed mirror)
    // keeps its layout. Otherwise the LAST axis: with σ broadcast the
    // Van Vleck correction is per row and runs on any layout, so
    // RFI's `bl`, when it runs, lets one full-row exchange serve the
    // whole chain (spreading by (t, chan) first moved the full rows
    // twice: q_pp3 1.7x slower at c4). Chains without kernels keep
    // the scan's layout. RFI's plan node outputs its input's own
    // attributes, so its `bl` clustering carries on and a later
    // averaging groupBy (keyed by a superset of `bl`) needs no
    // exchange of its own.
    val spreadVis =
      if (axes.isEmpty || axes.exists(Layout.satisfies(vis, _: _*))) vis
      else Layout.clustered(vis, axes.last: _*)
    val pfb = pfbExternal.getOrElse(pfbVersion
      .map(v => Dims.pfbGainReal(spark, v, pfbOversampled,
        meta.fineChansPerCoarse))
      .getOrElse(Dims.pfbGain(spark)))
    def uvw = uvwTable(spark)
    val stages: Seq[(Boolean, DataFrame => DataFrame)] = Seq(
      (vanVleck, df => VanVleck(df, meta.flaggedAnts(spark),
        sampleScale,
        // broadcast σ when the CONTAINER bounds it under the
        // threshold (VanVleck.sigmaFitsBroadcast — Catalyst's own
        // estimate never fires here)
        VanVleck.sigmaFitsBroadcast(meta, spark))),
      (doCable, df => CableCorrection(df, antenna)),
      (digitalGains, df => DigitalGains(df, meta.digitalGain(spark))),
      (passband, df => PassbandGains(df, pfb)),
      (rfi, df => RfiFlag.detectAndFlag(df, rfiStrategy, rfiBandpass)),
      (doGeometry, df => GeometryCorrection(df, uvw)),
      (calibrate, df => Calibration(df, calsolTable(spark))))
    stages.foldLeft(spreadVis) { case (df, (enabled, stage)) =>
      if (enabled) df.transform(stage) else df
    }
  }

  /** The per-(t, ant) partial-UVW table this pipeline's geometry stage
    * uses — exposed so the uvfits/MS sinks can write group parameters
    * CONSISTENT with the phases the geometry stage tracked (a sink
    * computing its own default-centre table would emit UVW
    * inconsistent with the rotated DATA). Built once per session and
    * shared: the apparent table is a driver pass of the IAU-2006 chain
    * behind two collects, which the stage and the sink would
    * otherwise each pay.
    */
  def uvwTable(spark: SparkSession): DataFrame =
    uvwTables.computeIfAbsent(spark, s => buildUvwTable(s))

  @transient private lazy val uvwTables =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  private def buildUvwTable(spark: SparkSession): DataFrame = {
    val (raC, decC) = phaseCentre.getOrElse(
      (GeometryCorrection.AppRaJ2000, GeometryCorrection.AppDecJ2000))
    val (lonA, latA) = arrayPos.getOrElse(
      (GeometryCorrection.AppLonRad, GeometryCorrection.AppLatRad))
    if (apparentGeometry || phaseCentre.isDefined || arrayPos.isDefined)
      GeometryCorrection.partUvwAstro(spark, meta.timestep(spark),
        meta.antenna(spark), lonA, latA, raC, decC,
        GeometryCorrection.AppDut1Sec, apparent = true)
    else GeometryCorrection.partUvw(meta.timestep(spark),
      meta.antenna(spark))
  }

  /** DI solutions: from the MWAOCAL binary when a path is given
    * (reference AOCalSols, calibration.rs:41-131), else the synthetic
    * calsol dimension. Both land in the same (ant, cc, j0..j7)
    * broadcast layout.
    */
  private def calsolTable(spark: SparkSession): DataFrame =
    aocalPath match {
      case Some(p) =>
        graft.sources.AOCalReader.toDataFrame(spark,
          graft.sources.AOCalReader.read(p))
          .withColumnRenamed("cal_chan", "cc")
      case None => Dims.calsol(spark)
    }
}
