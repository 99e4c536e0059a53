package graft.ops

import graft.functions.{VanVleckKernel, VanVleckVectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C5 `correct_van_vleck` (/root/reference/src/van_vleck.rs:159-306) as a
  * three-stage Spark dataflow:
  *
  *  1. '''sigma derivation''' — from the unflagged autocorrelation rows,
  *     solve σ = σ̂⁻¹ per (t, ant, chan) and polarisation (XX_re, YY_re
  *     are the σ̂² sources, van_vleck.rs:197-206). A deterministic scalar
  *     UDF over the auto subset (the reference calls this the "one
  *     genuinely UDF-shaped operator" — iterative Newton/erf math).
  *  2. '''auto update''' — autos get XX_re/YY_re replaced by scale·σ²,
  *     imaginary parts zeroed, and XY corrected by the cross kernel using
  *     (σxx, σyy) of the same antenna; YX = conj(XY)
  *     (van_vleck.rs:232-260).
  *  3. '''cross update''' — crosses join the σ table on BOTH antennas at
  *     the same (t, chan) (van_vleck.rs:263-296) and run the
  *     Newton+Simpson cross kernel per component.
  *
  * Scale shape: the σ table has T×A×C rows — a factor A/2 smaller than
  * the fact table — and joins on (t, chan, ant). At 100 TB the fact table
  * arrives hash-partitioned by (t, chan) from the source, so both σ joins
  * co-locate; AQE picks broadcast when the σ table fits.
  */
object VanVleck {

  /** Both kernels run as codegen'd Catalyst expressions
    * ([[graft.functions.VanVleckCross]] / [[graft.functions.VanVleckAuto]],
    * the CellTopK reference-object pattern): no ScalaUDF boxing in the
    * hot path, generated source stable across plans, and the cross
    * memo is per-thread open addressing on raw IEEE bits — the shared
    * `ConcurrentHashMap[(Double, Double, Double, Boolean), Double]` it
    * replaces allocated a boxed tuple per probe and serialised cold
    * 32-thread population on its bin locks (computeIfAbsent runs the
    * whole Newton+Simpson integration while holding the bin — the r21
    * 32-core pp3 pathology). Identical results: the kernel is a pure
    * function of the raw bits, and the expression reproduces the
    * primitive-arg UDF's null-in → null-out semantics.
    */
  private def vvAuto(s: Column): Column =
    graft.functions.VanVleckExprs.auto(s)

  /** Cross-kernel expression: the reference's rule bit for bit,
    * abandoning to khat at the 100-iteration cap (van_vleck.rs:723-730).
    */
  private def vvCross(k: Column, sx: Column, sy: Column): Column =
    graft.functions.VanVleckExprs.cross(k, sx, sy)

  /** Derive the per-(t, ant, chan) σ table from auto rows.
    * `sighatExpr` maps an auto component column to σ̂ (for real data:
    * sqrt(component / sampleScale)).
    */
  def sigmaTable(vis: DataFrame, flaggedAnts: Seq[Long],
                 sampleScale: Double): DataFrame = {
    val autos = vis
      .where(col("ant1") === col("ant2"))
      .where(!col("ant1").isin(flaggedAnts: _*))
    // one sigma per (t, ant, chan): repeated samples of a cell reduce by
    // max BEFORE the iterative kernel, so the kernel runs once per cell
    val agg = autos
      .groupBy(col("t"), col("ant1").as("ant"), col("chan"))
      .agg(max(abs(col("v0"))).as("pxx"), max(abs(col("v6"))).as("pyy"))
    // the σ solve is CPU-bound per CELL: ask for the (t, chan) axis so
    // the Newton projection runs at shuffle width, not on the 2-3
    // tasks AQE coalesces the model-sized aggregate exchange to. Over
    // a source already clustered on (t, chan) the aggregate inherits
    // that layout and this adds nothing. (t, chan), not the agg's own
    // (t, ant, chan): a repartition matching the grouping exactly is
    // removed as redundant and the projection falls back to the
    // coalesced width.
    val spread = Layout.clustered(agg, "t", "chan")
    spread.select(col("t"), col("ant"), col("chan"),
        vvAuto(sqrt(col("pxx") / sampleScale)).as("sigma_x"),
        vvAuto(sqrt(col("pyy") / sampleScale)).as("sigma_y"))
  }

  /** Whether the σ table PROVABLY fits a broadcast, decided from
    * container metadata alone (guide §3.1 "use an explicit hint when
    * you know a side is small"): σ has at most nScans·nAnts·nChans
    * rows — a bound known a priori from the metafits/model, never
    * from Catalyst's estimate, which derives σ's size from the
    * corpus scan and therefore NEVER auto-broadcasts it (measured:
    * both σ joins ran as SortMergeJoin with full-corpus
    * (t, ant, chan) exchanges even under AQE). A real 240-scan
    * 128-tile 3072-chan obs is ~94M cells → stays on the co-located
    * SMJ path.
    */
  def sigmaFitsBroadcast(meta: graft.model.MetaSource,
                         spark: SparkSession): Boolean = {
    val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
    thr > 0 &&
      meta.nScans.toLong * meta.nAnts * meta.nChans *
        SigmaBroadcastRowBytes <= thr
  }

  /** Conservative bytes per σ row in the broadcast hashed relation
    * (an UnsafeHashedRelation: the (t, ant, chan) key is three longs,
    * so it never takes the long-key map):
    *   - value row, 5 fields + null word:             48 B
    *   - key row, 3 longs + null word:                32 B
    *   - record header (lengths + next pointer):      16 B
    *   - slot array, 2 longs per slot, at most 4 slots
    *     per row (load factor 0.5, power-of-2 size):  64 B
    */
  private val SigmaBroadcastRowBytes = 160L

  /** Apply the full correction. Rows whose antennas lack σ (flagged)
    * pass through unchanged, as in the reference's `_ => {}` arm
    * (van_vleck.rs:298-300).
    */
  def apply(vis: DataFrame, flaggedAnts: Seq[Long],
            sampleScale: Double,
            broadcastSigma: Boolean = false): DataFrame = {
    val sigma = sigmaTable(vis, flaggedAnts, sampleScale)
    val hint: DataFrame => DataFrame =
      if (broadcastSigma) broadcast else identity
    val s1 = hint(sigma.select(col("t"), col("ant").as("ant1"),
      col("chan"),
      col("sigma_x").as("sx1"), col("sigma_y").as("sy1")))
    val s2 = hint(sigma.select(col("t"), col("ant").as("ant2"),
      col("chan"),
      col("sigma_x").as("sx2"), col("sigma_y").as("sy2")))
    val joined = vis
      .join(s1, Seq("t", "ant1", "chan"), "left")
      .join(s2, Seq("t", "ant2", "chan"), "left")

    val isAuto = col("ant1") === col("ant2")
    val hasSigma = col("sx1").isNotNull && col("sx2").isNotNull
    val scale = lit(sampleScale)

    // autos: XX_re/YY_re <- scale*sigma^2, imag <- 0, XY via cross kernel
    // with (sigma_xx, sigma_yy) of this antenna, YX = conj(XY).
    val autoXy = vvCross(col("v2") / scale, col("sx1"), col("sy1"))
    val autoXyIm = vvCross(col("v3") / scale, col("sx1"), col("sy1"))

    // crosses: per-pol sigma pairing (van_vleck.rs:273-280):
    // XX:(sx1,sx2) XY:(sx1,sy2) YX:(sy1,sx2) YY:(sy1,sy2)
    val polSigma = Seq(
      (0, 1, col("sx1"), col("sx2")), (2, 3, col("sx1"), col("sy2")),
      (4, 5, col("sy1"), col("sx2")), (6, 7, col("sy1"), col("sy2")))

    // one withColumns per stage (not per-column folds): chained
    // withColumn re-analyzes the whole plan per step — quadratic
    // driver time over the composed preprocess chain
    val corrected = joined.withColumns(polSigma.flatMap {
      case (ri, ii, sa, sb) =>
        val crossRe = scale * vvCross(col(s"v$ri") / scale, sa, sb)
        val crossIm = scale * vvCross(col(s"v$ii") / scale, sa, sb)
        val (autoRe, autoIm) = (ri: @unchecked) match {
          case 0 => (scale * col("sx1") * col("sx1"), lit(0.0))
          case 6 => (scale * col("sy1") * col("sy1"), lit(0.0))
          case 2 => (scale * autoXy, scale * autoXyIm)
          case 4 => (scale * autoXy, -(scale * autoXyIm))
        }
        Seq(
          s"n$ri" -> when(!hasSigma, col(s"v$ri"))
            .when(isAuto, autoRe).otherwise(crossRe),
          s"n$ii" -> when(!hasSigma, col(s"v$ii"))
            .when(isAuto, autoIm).otherwise(crossIm))
    }.toMap)
    val replaced = corrected.withColumns(
      (0 until 8).map(k => s"v$k" -> col(s"n$k")).toMap)
      .drop((0 until 8).map(k => s"n$k"): _*)
    replaced.drop("sx1", "sy1", "sx2", "sy2")
  }

  private val sighatUdf = udf((s: Double) => VanVleckKernel.sighat(s))
  private val sighatPrimeUdf =
    udf((s: Double) => VanVleckKernel.sighatPrime(s))

  /** Auto-kernel parity surface (`q_c5_sigma`): run the live kernel over
    * the reference's public σ̂/σ/σ̂′ vectors (van_vleck.rs:400-465); the
    * DuckDB oracle holds the published expectations as a VALUES relation.
    * `sigma_rec` exercises the Newton inverse, `sighat_fwd`/`prime_fwd`
    * the forward model and its derivative.
    */
  def sigmaParity(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = VanVleckVectors.sighats.indices.map { i =>
      (i.toLong, VanVleckVectors.sighats(i), VanVleckVectors.sigmas(i))
    }
    rows.toDF("idx", "sighat_in", "sigma_pub")
      .select(col("idx"),
        round(vvAuto(col("sighat_in")), 6).as("sigma_rec"),
        round(sighatUdf(col("sigma_pub")), 6).as("sighat_fwd"),
        round(sighatPrimeUdf(col("sigma_pub")), 6).as("prime_fwd"))
  }

  /** Cross-kernel parity surface (`q_c5_cross`): apply the Newton+Simpson
    * inversion to khat = v0/16 with SQL-derivable dyadic sigmas, so the
    * DuckDB oracle can reproduce the ENTIRE inversion as a recursive-CTE
    * Newton loop over distinct (khat, σx, σy) triples
    * (graft.oracle.Oracles.c5Cross). Restricted to t<8 ∧ chan<4 to bound
    * the oracle's iteration workload at sf0.01.
    */
  def crossParity(vis: DataFrame): DataFrame =
    vis.where(col("ant1") =!= col("ant2"))
      .where(col("t") < 8 && col("chan") < 4)
      .select(col("t"), col("bl"), col("chan"),
        (col("v0") / 16.0).as("khat"),
        (lit(1.0) + ((col("ant1") * 19 + col("chan") * 7) % 64)
          .cast("double") / 128.0).as("sx"),
        (lit(1.0) + ((col("ant2") * 23 + col("chan") * 11) % 64)
          .cast("double") / 128.0).as("sy"))
      .withColumn("kappa_u",
        floor(vvCross(col("khat"), col("sx"),
          col("sy")) * 1.0e6 + 0.5))
}
