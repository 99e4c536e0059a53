package graft.ops

import graft.functions.SumThresholdKernel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim

/** R1 RFI detection (/root/reference/src/flags.rs:368-437).
  *
  * The reference hands each baseline's full (time x chan) image set to
  * AOFlagger (jones_baseline_view_to_imageset, flags.rs:236-273). The
  * Spark-native shape is the same data movement: group the fact table by
  * baseline — the ONE shuffle this operator needs — and run the
  * deterministic SumThreshold kernel per group via `flatMapGroups`
  * (Generator/UDTF-shaped: one group in, per-cell flags out).
  *
  * Scale: each group is (timesteps x channels) cells — for MWA-sized data
  * a few MB — so groups stream through executors without memory pressure;
  * 8k baselines spread over the cluster. If the source is already
  * bucketed by bl, the shuffle disappears entirely.
  */
/** Encoder row types for [[RfiFlag]] — top-level because Spark's codegen
  * cannot instantiate private nested case classes.
  */
case class RfiCell(bl: Long, t: Long, chan: Long, amps: Seq[Double],
                   flag: Boolean)
case class RfiFlagOut(bl: Long, t: Long, chan: Long, rfi: Boolean)

/** Strategy parameters — the Spark analogue of the reference's
  * loadable AOFlagger strategy file (flags.rs:406-412): detection
  * sensitivity (MAD multiplier), deepest window scale (2^maxLog2), the
  * per-scale threshold decay ρ, the polarisation images detection runs
  * on (detections OR across pols, as AOFlagger combines its image
  * masks), and per-direction sensitivities (time vs channel — the
  * direction knobs the default MWA Lua strategy exposes). Defaults
  * reproduce the default strategy's shape; q_r1's oracle twin pins the
  * default and q_r1b's pins a non-default (yy, weighted) strategy.
  */
case class RfiStrategy(madK: Double = 6.0, maxLog2: Int = 5,
                       rho: Double = 1.5,
                       pols: Seq[String] = Seq("xx"),
                       timeWeight: Double = 1.0,
                       chanWeight: Double = 1.0,
                       // scale-invariant rank post-extension (Offringa
                       // et al. 2012); AOFlagger's published default
                       // strategies run SIR after SumThreshold with
                       // η = 0.2 in both directions, so that is the
                       // default here too. 0 disables (exact identity).
                       sirEtaTime: Double = 0.2,
                       sirEtaChan: Double = 0.2,
                       // iterative high-pass background fit (the
                       // background/iterate loop AOFlagger strategies
                       // run — Offringa 2010 §3.1): half-widths of the
                       // sliding-median windows (0/0 = the constant-
                       // median background, bit-identical to the
                       // pre-iteration kernel), detect-iteration count
                       // and the per-iteration threshold ramp (early
                       // iterations use chi × ramp^(n−i), so the first
                       // pass only takes the strongest RFI out of the
                       // background estimate)
                       bgWindowTime: Int = 0,
                       bgWindowChan: Int = 0,
                       iterations: Int = 1,
                       rampFactor: Double = 2.0,
                       // background estimator: "median" (robust
                       // separable sliding median) or "gaussian"
                       // (AOFlagger's actual high_pass_filter kernel —
                       // masked normalized Gaussian convolution).
                       // Sigmas of 0 default to half the window
                       // half-width (σ = max(w,1)/2), the shape a
                       // kernel-size-only strategy call implies.
                       bgKind: String = "median",
                       bgSigmaTime: Double = 0.0,
                       bgSigmaChan: Double = 0.0,
                       // whole-line RMS flaggers (AOFlagger's
                       // threshold_timestep_rms / threshold_channel_rms,
                       // the final cleanup passes of the published MWA
                       // default strategy executed by the reference via
                       // flags.rs:406-412): flag an entire
                       // timestep/channel whose RMS over unflagged
                       // samples is an outlier vs the other lines'
                       // RMS distribution. 0 = off (the default — a
                       // strategy that never calls them runs without
                       // them). tsRms flags high outliers only;
                       // chRmsFlagLow extends the channel pass to low
                       // outliers (AOFlagger's flag_low_outliers arg).
                       tsRmsThreshold: Double = 0.0,
                       chRmsThreshold: Double = 0.0,
                       chRmsFlagLow: Boolean = true,
                       // FINAL whole-set timestep pass (the published
                       // MWA default's `threshold_timestep_rms(input,
                       // 4.0)` after the pol loop): runs on the
                       // combined max-over-pols grid after the channel
                       // cleanup, high outliers only. 0 = off.
                       tsRmsFinal: Double = 0.0,
                       // outlier-exclusion rounds for the line-RMS
                       // mean/σ estimate (AOFlagger iterates to
                       // convergence; the engine runs a FIXED bounded
                       // count — a converged round flags nothing and
                       // every later round is then the identity, so a
                       // fixture that converges within the bound is
                       // exact, and the bound keeps the oracle twin
                       // finitely expressible)
                       rmsIterations: Int = 3,
                       // IN-LOOP placement (AOFlagger strategies that
                       // call the RMS flaggers inside the detect-loop
                       // body): the pass runs after EVERY iteration's
                       // detection, so its flags feed the next
                       // iteration's background/threshold statistics,
                       // and the channel pass runs per-pol BEFORE SIR
                       // instead of on the combined mask after. false
                       // keeps the fixed post-loop cleanup positions
                       // (the published MWA default's call sites). At
                       // iterations = 1 the ts placement is
                       // positionally identical; the ch placement
                       // still moves the pass ahead of SIR.
                       tsRmsInLoop: Boolean = false,
                       chRmsInLoop: Boolean = false) {
  require(pols.nonEmpty && pols.forall(RfiStrategy.PolComps.contains),
    s"pols must be non-empty from ${RfiStrategy.PolComps.keys}, " +
      s"got $pols")
  require(sirEtaTime >= 0 && sirEtaTime < 1 &&
    sirEtaChan >= 0 && sirEtaChan < 1,
    s"SIR eta must be in [0, 1), got ($sirEtaTime, $sirEtaChan)")
  require(bgWindowTime >= 0 && bgWindowChan >= 0,
    s"background windows must be >= 0")
  require(iterations >= 1, s"iterations must be >= 1, got $iterations")
  require(rampFactor > 0, s"ramp_factor must be > 0, got $rampFactor")
  require(bgKind == "median" || bgKind == "gaussian",
    s"bg_kind must be median or gaussian, got '$bgKind'")
  require(bgSigmaTime >= 0 && bgSigmaChan >= 0,
    s"background sigmas must be >= 0")
  require(tsRmsThreshold >= 0 && chRmsThreshold >= 0 && tsRmsFinal >= 0,
    "line-RMS thresholds must be >= 0 (0 = off)")
  require(rmsIterations >= 1,
    s"rms_iterations must be >= 1, got $rmsIterations")

  /** Effective Gaussian sigmas (0 → the documented w/2 default). */
  def sigmaT: Double =
    if (bgSigmaTime > 0) bgSigmaTime else math.max(bgWindowTime, 1) / 2.0
  def sigmaC: Double =
    if (bgSigmaChan > 0) bgSigmaChan else math.max(bgWindowChan, 1) / 2.0
}

object RfiStrategy {

  /** Jones component offsets (re, im) per polarisation image name. */
  val PolComps: Map[String, (Int, Int)] = Map(
    "xx" -> ((0, 1)), "xy" -> ((2, 3)), "yx" -> ((4, 5)),
    "yy" -> ((6, 7)))

  /** Parse a strategy config — the surface the reference gets from
    * loadable AOFlagger Lua strategy files
    * (/root/reference/src/flags.rs:406-412, `LoadStrategyFile` per
    * baseline). The format is deliberately minimal: `key = value`
    * lines; `#` or `--` start a comment; keys are `mad_k` (detection
    * sensitivity, the MAD multiplier), `max_log2` (deepest SumThreshold
    * window scale), `rho` (per-scale threshold decay), `pols`
    * (comma-separated polarisation images, e.g. `xx,yy`), and
    * `time_weight` / `chan_weight` (per-direction sensitivities).
    * Unknown keys FAIL — a typo silently falling back to a default is
    * the worst failure mode a strategy file can have.
    */
  def parse(text: String): RfiStrategy =
    text.linesIterator
      .map(_.split("#|--", 2).head.trim)
      .filter(_.nonEmpty)
      .foldLeft(RfiStrategy()) { (s, line) =>
        line.split("=", 2) match {
          case Array(k, v) => (k.trim, v.trim) match {
            case ("mad_k", x) => s.copy(madK = x.toDouble)
            case ("max_log2", x) => s.copy(maxLog2 = x.toInt)
            case ("rho", x) => s.copy(rho = x.toDouble)
            case ("pols", x) =>
              s.copy(pols = x.split(",").toSeq.map(_.trim.toLowerCase))
            case ("time_weight", x) => s.copy(timeWeight = x.toDouble)
            case ("chan_weight", x) => s.copy(chanWeight = x.toDouble)
            case ("sir_eta_time", x) => s.copy(sirEtaTime = x.toDouble)
            case ("sir_eta_chan", x) => s.copy(sirEtaChan = x.toDouble)
            case ("bg_window_time", x) => s.copy(bgWindowTime = x.toInt)
            case ("bg_window_chan", x) => s.copy(bgWindowChan = x.toInt)
            case ("bg_kind", x) => s.copy(bgKind = x.toLowerCase)
            case ("bg_sigma_time", x) => s.copy(bgSigmaTime = x.toDouble)
            case ("bg_sigma_chan", x) => s.copy(bgSigmaChan = x.toDouble)
            case ("iterations", x) => s.copy(iterations = x.toInt)
            case ("ramp_factor", x) => s.copy(rampFactor = x.toDouble)
            case ("ts_rms_threshold", x) =>
              s.copy(tsRmsThreshold = x.toDouble)
            case ("ch_rms_threshold", x) =>
              s.copy(chRmsThreshold = x.toDouble)
            case ("ch_rms_flag_low", x) =>
              s.copy(chRmsFlagLow = x.toBoolean)
            case ("ts_rms_final", x) =>
              s.copy(tsRmsFinal = x.toDouble)
            case ("rms_iterations", x) =>
              s.copy(rmsIterations = x.toInt)
            case ("ts_rms_in_loop", x) =>
              s.copy(tsRmsInLoop = x.toBoolean)
            case ("ch_rms_in_loop", x) =>
              s.copy(chRmsInLoop = x.toBoolean)
            case (other, _) =>
              sys.error(s"unknown strategy key '$other' " +
                "(expected mad_k, max_log2, rho, pols, time_weight, " +
                "chan_weight, sir_eta_time, sir_eta_chan, " +
                "bg_window_time, bg_window_chan, bg_kind, " +
                "bg_sigma_time, bg_sigma_chan, iterations, " +
                "ramp_factor, ts_rms_threshold, ch_rms_threshold, " +
                "ch_rms_flag_low, ts_rms_final, rms_iterations, " +
                "ts_rms_in_loop, ch_rms_in_loop)")
          }
          case _ => sys.error(s"malformed strategy line '$line'")
        }
      }

  /** Load a strategy file from any Hadoop filesystem. */
  def fromFile(path: String,
               conf: org.apache.hadoop.conf.Configuration =
                 new org.apache.hadoop.conf.Configuration())
      : RfiStrategy = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 4096, false)
      parse(bytes.toString("UTF-8"))
    } finally in.close()
  }
}

object RfiFlag {

  /** Flag RFI on XX amplitude with a custom strategy. */
  def apply(visFlagged: DataFrame, strategy: RfiStrategy): DataFrame =
    run(visFlagged, strategy)

  /** Flag RFI on XX amplitude. Input needs (bl, t, chan, v0, v1, flag).
    * Returns (bl, t, chan, rfi) — OR of existing flag and detection,
    * mirroring flags.rs:414-418's flag-OR mode.
    */
  def apply(visFlagged: DataFrame, madK: Double = 6.0): DataFrame =
    run(visFlagged, RfiStrategy(madK = madK))

  private def run(visFlagged: DataFrame,
                  strategy: RfiStrategy): DataFrame = {
    val spark = visFlagged.sparkSession
    import spark.implicits._
    // one amplitude per selected polarisation image, in strategy order
    val ampCols = strategy.pols.map { p =>
      val (ri, ii) = RfiStrategy.PolComps(p)
      sqrt(col(s"v$ri") * col(s"v$ri") + col(s"v$ii") * col(s"v$ii"))
    }
    // the detection kernel is CPU-bound per baseline GROUP: ask for
    // the `bl` axis (Layout.clustered — free over a bl-bucketed
    // source, else pinned to shuffle width)
    val cells: Dataset[RfiCell] = Layout.clustered(visFlagged.select(
      col("bl"), col("t"), col("chan"),
      array(ampCols: _*).as("amps"),
      col("flag")), "bl").as[RfiCell]

    // COLUMN-keyed grouping (groupBy(col).as[K, T]), not the lambda
    // groupByKey(_.bl): the lambda key is opaque to Catalyst, so it
    // ALWAYS plans an AppendColumns + hash Exchange, and the layout
    // above would not satisfy it
    cells.groupBy(col("bl")).as[Long, RfiCell]
      .flatMapGroups { (bl, it) =>
        detectGroup(bl, it.toArray, strategy)
      }.toDF()
  }

  /** FUSED detect-and-flag: run the per-baseline detection and emit
    * the INPUT ROWS with the detections OR'd into `flag` — one pass,
    * no mask join. A join shape (`RfiFlag` + join back on
    * (bl, t, chan)) would read the upstream frame twice and pay two
    * (bl, t, chan) exchanges; this shape reads it once and pays at
    * most one `bl` exchange (none over a bl-bucketed source, SCALE.md
    * "Layout"). The rows stay binary: the [[RfiDetect]] plan node
    * copies each baseline's rows, runs [[detectGroup]] and sets the
    * `flag` bit in place. Its output is the input's own attributes, so
    * the `bl` clustering carries on to averaging.
    *
    * `rfiBandpass`: optional (fc, pfb_gain) table dividing the
    * DETECTION amplitudes only (a Lua strategy's apply_bandpass; the
    * reference corrects the ImageSet copy, never the output) — the
    * emitted rows carry the ORIGINAL values, the gains shape only the
    * amplitudes the kernel sees.
    */
  def detectAndFlag(visFlagged: DataFrame, strategy: RfiStrategy,
                    rfiBandpass: Option[DataFrame] = None)
      : DataFrame = {
    val ampCols = strategy.pols.map { p =>
      val (ri, ii) = RfiStrategy.PolComps(p)
      sqrt(col(s"v$ri") * col(s"v$ri") + col(s"v$ii") * col(s"v$ii"))
    }
    val cols = visFlagged.columns.toSeq.map(col)
    // gain-divided when a detection bandpass is given:
    // sqrt((re/g)^2 + (im/g)^2) = amp / g for g > 0
    val (input, amps) = rfiBandpass match {
      case Some(pb) =>
        // the bandpass join must not reorder columns vs the input
        (visFlagged.join(broadcast(pb), Seq("fc"))
          .select(cols :+ col("pfb_gain"): _*),
          ampCols.map(_ / col("pfb_gain")))
      case None => (visFlagged, ampCols)
    }
    // same `bl` axis as [[run]]; inside Preprocess the chain's
    // up-front spread usually provides it already. Asked for here, not
    // left to the node's own requirement: AQE would coalesce that
    // exchange onto a few tasks
    val keyed = Layout.clustered(input, "bl")
      .select(Seq("bl", "t", "chan", "flag").map(col) ++ amps: _*)
      .queryExecution.analyzed
    val Project(list, child) = keyed: @unchecked
    val exprs = list.map {
      case a: Alias => a.child
      case e => e
    }
    val Seq(bl, t, chan, flag) = exprs.take(4).map(_.asInstanceOf[Attribute])
    val spark = visFlagged.sparkSession
    RfiDetect.Planning.setup(spark)
    val flagged = GraftSqlShim.ofRows(spark,
      RfiDetect(bl, t, chan, flag, exprs.drop(4), strategy, child))
    if (rfiBandpass.isEmpty) flagged else flagged.select(cols: _*)
  }

  /** The per-baseline detection kernel on its own: grid assembly,
    * per-pol iterated background/SumThreshold, SIR post-extension.
    * Shared by [[run]], [[RfiDetect]] and the streaming twin
    * (graft.streaming.RfiStream), so every path is the same code.
    */
  private[graft] def detectGroup(bl: Long, rows: Array[RfiCell],
                                 strategy: RfiStrategy)
      : Iterator[RfiFlagOut] = {
    {
      val nPols = strategy.pols.length
      val ts = rows.map(_.t).distinct.sorted
      val cs = rows.map(_.chan).distinct.sorted
      val tIdx = ts.zipWithIndex.toMap
      val cIdx = cs.zipWithIndex.toMap
      val amp = Array.fill(nPols, ts.length, cs.length)(0.0)
      val flg = Array.fill(ts.length, cs.length)(false)
      val seen = Array.fill(ts.length, cs.length)(false)
      rows.foreach { r =>
        val (i, j) = (tIdx(r.t), cIdx(r.chan))
        var p = 0
        while (p < nPols) {
          // repeated samples of a cell: max amplitude wins (conservative)
          val a = r.amps(p)
          if (!seen(i)(j) || a > amp(p)(i)(j)) amp(p)(i)(j) = a
          p += 1
        }
        seen(i)(j) = true
        flg(i)(j) = flg(i)(j) || r.flag
      }
      // detect per polarisation image from the SAME prior flags, then
      // OR the detections — how AOFlagger combines per-pol masks.
      // Each pol runs the strategy's detect loop: `iterations` rounds
      // of background-estimate → residual-threshold, the threshold
      // ramped down ramp^(n−i) so early rounds only remove the
      // strongest RFI from the next round's background estimate
      // (AOFlagger's iteration structure; constant-median background
      // when the windows are 0 — bit-identical to the single-pass
      // kernel at iterations = 1).
      val out = Array.fill(ts.length, cs.length)(false)
      val slidingBg = strategy.bgWindowTime > 0 || strategy.bgWindowChan > 0
      // the two per-pol whole-line passes, shared by the in-loop and
      // fixed-position call sites (identical line statistics; only
      // WHERE they run differs)
      def tsPassOn(polFlags: Array[Array[Boolean]], p: Int)
          : Array[Array[Boolean]] = {
        val lf = rmsThresholdLines(ts.length, cs.length,
          (i, j) => amp(p)(i)(j),
          (i, j) => seen(i)(j) && !polFlags(i)(j),
          strategy.tsRmsThreshold, flagLow = false,
          strategy.rmsIterations)
        Array.tabulate(ts.length, cs.length)((i, j) =>
          polFlags(i)(j) || lf(i))
      }
      def chPassOn(polFlags: Array[Array[Boolean]], p: Int)
          : Array[Array[Boolean]] = {
        val lf = rmsThresholdLines(cs.length, ts.length,
          (j, i) => amp(p)(i)(j),
          (j, i) => seen(i)(j) && !polFlags(i)(j),
          strategy.chRmsThreshold, strategy.chRmsFlagLow,
          strategy.rmsIterations)
        Array.tabulate(ts.length, cs.length)((i, j) =>
          polFlags(i)(j) || lf(j))
      }
      var p = 0
      while (p < nPols) {
        // the kernels never mutate their input flags (they clone), so
        // each iteration re-binds rather than copies
        var polFlags = flg
        var iter = 1
        while (iter <= strategy.iterations) {
          val ramp = math.pow(strategy.rampFactor,
            (strategy.iterations - iter).toDouble)
          val det =
            if (slidingBg) {
              val use = Array.tabulate(ts.length, cs.length)((i, j) =>
                seen(i)(j) && !polFlags(i)(j))
              val bg =
                if (strategy.bgKind == "gaussian") {
                  // exact-integer masked Gaussian convolution on the
                  // micro-unit grid (the q_r1d-gated kernel), scaled
                  // back to amplitude units for the residual
                  val ampMicro = Array.tabulate(ts.length, cs.length)(
                    (i, j) => math.floor(amp(p)(i)(j) * 1e6 + 0.5).toLong)
                  val micro = graft.functions.BackgroundKernel
                    .estimateGaussianMicro(ampMicro, use,
                      graft.functions.BackgroundKernel.gaussWeights(
                        strategy.bgWindowTime, strategy.sigmaT),
                      graft.functions.BackgroundKernel.gaussWeights(
                        strategy.bgWindowChan, strategy.sigmaC))
                  micro.map(_.map(_ / 1e6))
                } else graft.functions.BackgroundKernel.estimate(
                  amp(p), use, strategy.bgWindowTime, strategy.bgWindowChan)
              val res = Array.tabulate(ts.length, cs.length)((i, j) =>
                amp(p)(i)(j) - bg(i)(j))
              val unflaggedRes = (for {
                i <- ts.indices; j <- cs.indices if use(i)(j)
              } yield res(i)(j)).toArray
              val chi1 = SumThresholdKernel.baseThreshold(unflaggedRes,
                strategy.madK) * ramp
              SumThresholdKernel.flagMatrixRes(res, polFlags, chi1,
                strategy.maxLog2, strategy.rho, strategy.timeWeight,
                strategy.chanWeight)
            } else {
              val unflaggedAmps = (for {
                i <- ts.indices; j <- cs.indices
                if seen(i)(j) && !polFlags(i)(j)
              } yield amp(p)(i)(j)).toArray
              val chi1 = SumThresholdKernel.baseThreshold(unflaggedAmps,
                strategy.madK) * ramp
              SumThresholdKernel.flagMatrix(amp(p), polFlags, chi1,
                strategy.maxLog2, strategy.rho, strategy.timeWeight,
                strategy.chanWeight)
            }
          polFlags = det
          // IN-LOOP RMS call sites: the passes run after every
          // iteration's detection, so their flags feed the next
          // iteration's background/threshold statistics — AOFlagger's
          // semantics when the strategy's loop body calls them
          if (strategy.tsRmsInLoop && strategy.tsRmsThreshold > 0)
            polFlags = tsPassOn(polFlags, p)
          if (strategy.chRmsInLoop && strategy.chRmsThreshold > 0)
            polFlags = chPassOn(polFlags, p)
          iter += 1
        }
        // whole-timestep RMS pass (AOFlagger threshold_timestep_rms):
        // runs per polarisation image after its detect loop, exactly
        // where the published MWA default strategy calls it — high
        // outliers only (the channel pass owns the flag-low knob);
        // an in-loop call site already ran it inside the loop
        if (strategy.tsRmsThreshold > 0 && !strategy.tsRmsInLoop)
          polFlags = tsPassOn(polFlags, p)
        var i = 0
        while (i < ts.length) {
          var j = 0
          while (j < cs.length) {
            out(i)(j) ||= polFlags(i)(j); j += 1
          }
          i += 1
        }
        p += 1
      }
      // scale-invariant rank post-extension (Offringa et al. 2012),
      // time direction first, then channel reading the time pass's
      // output — the sequential order AOFlagger's operator applies and
      // the same direction convention as the SumThreshold passes above.
      // η = 0 is the exact identity, so skipping it is a pure shortcut.
      val etaT = graft.functions.SirKernel.etaNum(strategy.sirEtaTime)
      val etaC = graft.functions.SirKernel.etaNum(strategy.sirEtaChan)
      if (etaT > 0) {
        var j = 0
        while (j < cs.length) {
          val colMask = Array.tabulate(ts.length)(i => out(i)(j))
          val ext = graft.functions.SirKernel.extend(colMask, etaT)
          var i = 0
          while (i < ts.length) { out(i)(j) = ext(i); i += 1 }
          j += 1
        }
      }
      if (etaC > 0) {
        var i = 0
        while (i < ts.length) {
          out(i) = graft.functions.SirKernel.extend(out(i), etaC)
          i += 1
        }
      }
      // whole-channel RMS pass (AOFlagger threshold_channel_rms): the
      // published strategy's final cleanup, after SIR, on the combined
      // mask — the engine's combined amplitude is the max across the
      // selected pol images (the same conservative combine the grid
      // assembly uses for duplicate samples); an in-loop call site
      // already ran the pass per pol inside the detect loop
      if (strategy.chRmsThreshold > 0 && !strategy.chRmsInLoop) {
        val lf = rmsThresholdLines(cs.length, ts.length,
          (j, i) => {
            var m = amp(0)(i)(j); var p2 = 1
            while (p2 < nPols) {
              if (amp(p2)(i)(j) > m) m = amp(p2)(i)(j); p2 += 1
            }
            m
          },
          (j, i) => seen(i)(j) && !out(i)(j),
          strategy.chRmsThreshold, strategy.chRmsFlagLow,
          strategy.rmsIterations)
        var i = 0
        while (i < ts.length) {
          var j = 0
          while (j < cs.length) { out(i)(j) ||= lf(j); j += 1 }
          i += 1
        }
      }
      // FINAL whole-set timestep pass (the published strategy's
      // `threshold_timestep_rms(input, k)` after the pol loop): the
      // combined grid, after the channel cleanup, high outliers only
      if (strategy.tsRmsFinal > 0) {
        val lf = rmsThresholdLines(ts.length, cs.length,
          (i, j) => {
            var m = amp(0)(i)(j); var p2 = 1
            while (p2 < nPols) {
              if (amp(p2)(i)(j) > m) m = amp(p2)(i)(j); p2 += 1
            }
            m
          },
          (i, j) => seen(i)(j) && !out(i)(j),
          strategy.tsRmsFinal, flagLow = false,
          strategy.rmsIterations)
        var i = 0
        while (i < ts.length) {
          var j = 0
          while (j < cs.length) { out(i)(j) ||= lf(i); j += 1 }
          i += 1
        }
      }
      for {
        i <- ts.indices.iterator; j <- cs.indices.iterator if seen(i)(j)
      } yield RfiFlagOut(bl, ts(i), cs(j), out(i)(j))
    }
  }

  /** Whole-line RMS flagger kernel (AOFlagger's
    * `threshold_timestep_rms` / `threshold_channel_rms` — the whole-line
    * cleanup passes of the published MWA default strategy the reference
    * executes, /root/reference/src/flags.rs:406-412). For each of
    * `nLines` lines (a timestep or a channel of the per-baseline grid),
    * the RMS over its unflagged cells is an EXACT integer statistic:
    * cells quantise to milli-amplitude units (floor(amp·1e3 + 0.5) —
    * IEEE multiply+floor, bit-identical in any engine), the sum of
    * squares accumulates with overflow-checked int64 (a grid too large
    * for the bound fails LOUDLY, never wraps), and the line RMS
    * re-quantises as floor(sqrt(ssq/cnt) + 0.5) — one division and one
    * correctly-rounded sqrt, deterministic everywhere.
    *
    * The outlier test then iterates `rounds` times: over lines still
    * unflagged, take m = count, s = Σrms, ss = Σrms²; a line is an
    * outlier iff |m·rms − s| > k·√(m·ss − s²) (i.e. |rms − μ| > k·σ),
    * decided in exact integers as 10⁴·d² > K·(m·ss − s²) with
    * K = floor(k²·10⁴ + 0.5) — K IS the engine's threshold semantics
    * (k to 2 decimals exact), so the DuckDB twin that carries the same
    * K literal agrees bit-for-bit. `flagLow` admits low outliers
    * (AOFlagger's flag_low_outliers); without it only d > 0 flags.
    * AOFlagger iterates to convergence; the engine's FIXED bound is
    * exact whenever the fixture converges within it (a converged round
    * flags nothing, making later rounds the identity). The comparison
    * runs in BigInt — line counts and amplitudes never constrain it.
    */
  private[graft] def rmsThresholdLines(nLines: Int, nCross: Int,
                                       amp: (Int, Int) => Double,
                                       use: (Int, Int) => Boolean,
                                       k: Double, flagLow: Boolean,
                                       rounds: Int): Array[Boolean] = {
    val bigK = BigInt(math.floor(k * k * 1.0e4 + 0.5).toLong)
    val rmsQ = new Array[Long](nLines)
    val has = new Array[Boolean](nLines)
    var i = 0
    while (i < nLines) {
      var ssq = 0L
      var cnt = 0L
      var j = 0
      while (j < nCross) {
        if (use(i, j)) {
          val au = math.floor(amp(i, j) * 1.0e3 + 0.5).toLong
          ssq = Math.addExact(ssq, Math.multiplyExact(au, au))
          cnt += 1
        }
        j += 1
      }
      if (cnt > 0) {
        rmsQ(i) = math.floor(math.sqrt(ssq.toDouble / cnt) + 0.5).toLong
        has(i) = true
      }
      i += 1
    }
    val lflg = new Array[Boolean](nLines)
    var r = 0
    while (r < rounds) {
      var m = 0L
      var s = BigInt(0)
      var ss = BigInt(0)
      var i2 = 0
      while (i2 < nLines) {
        if (has(i2) && !lflg(i2)) {
          m += 1
          s += rmsQ(i2)
          ss += BigInt(rmsQ(i2)) * rmsQ(i2)
        }
        i2 += 1
      }
      if (m >= 2) {
        val variance = BigInt(m) * ss - s * s // = m²·σ²
        var i3 = 0
        while (i3 < nLines) {
          if (has(i3) && !lflg(i3)) {
            val d = BigInt(m) * rmsQ(i3) - s
            if ((d.signum > 0 || flagLow) &&
                BigInt(10000) * d * d > bigK * variance)
              lflg(i3) = true
          }
          i3 += 1
        }
      }
      r += 1
    }
    lflg
  }

  /** The sliding-median background estimate on its own — the q_r1c
    * gate surface. Builds the same dense per-baseline grid as [[run]]
    * (XX amplitude, max over duplicate samples, unseen cells 0/false)
    * and returns one row per grid cell with the background in integer
    * micro-units (floor(bg·1e6 + 0.5) — amplitudes are non-negative),
    * the driver-gate representation that compares exactly against the
    * DuckDB `median()`-window twin.
    */
  def background(visFlagged: DataFrame, wt: Int, wc: Int): DataFrame = {
    val spark = visFlagged.sparkSession
    import spark.implicits._
    val cells: Dataset[RfiCell] = visFlagged.select(
      col("bl"), col("t"), col("chan"),
      array(sqrt(col("v0") * col("v0") + col("v1") * col("v1")))
        .as("amps"),
      col("flag")).as[RfiCell]
    cells.groupBy(col("bl")).as[Long, RfiCell].flatMapGroups { (bl, it) =>
      val rows = it.toArray
      val ts = rows.map(_.t).distinct.sorted
      val cs = rows.map(_.chan).distinct.sorted
      val tIdx = ts.zipWithIndex.toMap
      val cIdx = cs.zipWithIndex.toMap
      val amp = Array.fill(ts.length, cs.length)(0.0)
      val flg = Array.fill(ts.length, cs.length)(false)
      val seen = Array.fill(ts.length, cs.length)(false)
      rows.foreach { r =>
        val (i, j) = (tIdx(r.t), cIdx(r.chan))
        val a = r.amps(0)
        if (!seen(i)(j) || a > amp(i)(j)) amp(i)(j) = a
        seen(i)(j) = true
        flg(i)(j) = flg(i)(j) || r.flag
      }
      val use = Array.tabulate(ts.length, cs.length)((i, j) =>
        seen(i)(j) && !flg(i)(j))
      val bg = graft.functions.BackgroundKernel.estimate(amp, use, wt, wc)
      for {
        i <- ts.indices.iterator; j <- cs.indices.iterator
      } yield (bl, ts(i), cs(j),
        math.floor(bg(i)(j) * 1e6 + 0.5).toLong)
    }.toDF("bl", "t", "chan", "bg_u")
  }

  /** The Gaussian high-pass background on its own — the q_r1d gate
    * surface. Same dense grid as [[background]]; amplitudes quantise
    * to integer micro-units first, the masked normalized convolution
    * is exact int64, and the emitted `bg_u` is the half-up-rounded
    * micro-unit background — every step deterministic, so the
    * lag/lead-decomposed DuckDB twin (same integer taps as literals)
    * hash-matches bit-for-bit.
    */
  def backgroundGaussian(visFlagged: DataFrame, wt: Int, wc: Int,
                         sigmaT: Double, sigmaC: Double): DataFrame = {
    val spark = visFlagged.sparkSession
    import spark.implicits._
    val wT = graft.functions.BackgroundKernel.gaussWeights(wt, sigmaT)
    val wC = graft.functions.BackgroundKernel.gaussWeights(wc, sigmaC)
    val cells: Dataset[RfiCell] = visFlagged.select(
      col("bl"), col("t"), col("chan"),
      array(sqrt(col("v0") * col("v0") + col("v1") * col("v1")))
        .as("amps"),
      col("flag")).as[RfiCell]
    cells.groupBy(col("bl")).as[Long, RfiCell].flatMapGroups { (bl, it) =>
      val rows = it.toArray
      val ts = rows.map(_.t).distinct.sorted
      val cs = rows.map(_.chan).distinct.sorted
      val tIdx = ts.zipWithIndex.toMap
      val cIdx = cs.zipWithIndex.toMap
      val amp = Array.fill(ts.length, cs.length)(0.0)
      val flg = Array.fill(ts.length, cs.length)(false)
      val seen = Array.fill(ts.length, cs.length)(false)
      rows.foreach { r =>
        val (i, j) = (tIdx(r.t), cIdx(r.chan))
        val a = r.amps(0)
        if (!seen(i)(j) || a > amp(i)(j)) amp(i)(j) = a
        seen(i)(j) = true
        flg(i)(j) = flg(i)(j) || r.flag
      }
      val use = Array.tabulate(ts.length, cs.length)((i, j) =>
        seen(i)(j) && !flg(i)(j))
      val ampMicro = Array.tabulate(ts.length, cs.length)((i, j) =>
        math.floor(amp(i)(j) * 1e6 + 0.5).toLong)
      val bg = graft.functions.BackgroundKernel
        .estimateGaussianMicro(ampMicro, use, wT, wC)
      for {
        i <- ts.indices.iterator; j <- cs.indices.iterator
      } yield (bl, ts(i), cs(j), math.floor(bg(i)(j) + 0.5).toLong)
    }.toDF("bl", "t", "chan", "bg_u")
  }
}
