package graft

import graft.model.{Dims, MetaSource, SynthDims}
import graft.ops.{Averaging, FlagOps, Preprocess, RfiFlag, VanVleck, WeightOps}
import graft.sinks.Sinks
import graft.synth.VisSynth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The layout contract (SCALE.md "Layout"): each kernel operator asks
  * for its axis through `Layout.clustered`, so a source already laid
  * out on that axis — a mirror bucketed by `bl` (RFI) or by
  * `(t, chan)` (Van Vleck) — saves the exchange, while a plain source
  * pays for each axis it lacks. Counts are shuffle exchanges in the
  * FINAL adaptive plan of the executed frame.
  */
class BucketedMirrorSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Each shuffle once: query stages are walked into, and a
    * ReusedExchange (a leaf) is a read of a shuffle already counted.
    * The adaptive plan's "Initial Plan" section is not part of the
    * final plan.
    */
  private object Plans extends AdaptiveSparkPlanHelper {
    def shuffles(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e
      }.size
  }

  /** Doubles in integer micro-units (the gates' representation), so
    * averaging sums compare across layouts whatever their order.
    */
  private def rows(df: DataFrame): DataFrame = df.select(
    df.schema.fields.toSeq.map { f =>
      if (f.dataType == DoubleType)
        floor(col(f.name) * 1e6 + 0.5).as(f.name)
      else col(f.name)
    }: _*)

  private def pp(vv: Boolean)(df: DataFrame) =
    Preprocess(vanVleck = vv, rfi = true)(spark, df)

  // test name, operator, expected final-plan shuffles over (plain,
  // bl mirror, (t, chan) mirror)
  private val table: Seq[(String, DataFrame => DataFrame, Seq[Int])] =
    Seq(
      ("groupBy(bl) over the bucketed mirror plans no shuffle",
        df => df.groupBy("bl")
          .agg(count(lit(1)).as("n"), sum("v0").as("s")), Seq(1, 0, 1)),
      ("RfiFlag over the bl-bucketed mirror plans ZERO shuffles and " +
        "detects identically to the plain run",
        df => RfiFlag(df), Seq(1, 0, 1)),
      ("Van Vleck over the (t, chan) mirror plans fewer exchanges " +
        "and corrects identically to the plain run",
        df => VanVleck(df, Seq(7L), 2.0), Seq(3, 2, 0)),
      ("per-layout final-plan shuffles of Preprocess(vv, rfi)",
        pp(vv = true), Seq(4, 2, 1)),
      ("per-layout final-plan shuffles of Preprocess(rfi)",
        pp(vv = false), Seq(1, 0, 1)),
      ("per-layout final-plan shuffles of Preprocess(rfi) + avg 2x2",
        df => Averaging.avgTimeFreq(pp(vv = false)(df), 2, 2),
        Seq(1, 0, 1)),
      ("per-layout final-plan shuffles of Preprocess(vv, rfi) + avg 2x2",
        df => Averaging.avgTimeFreq(pp(vv = true)(df), 2, 2),
        Seq(4, 2, 1)))

  private lazy val weighted = WeightOps.flagToWeight(FlagOps.setFlags(
    VisSynth.vis(spark, "/root/testdata/sf0.001"),
    Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark)))

  // the two mirrors are written once, on first use, for every row
  private lazy val layouts: Seq[(String, () => DataFrame)] = {
    Sinks.writeBucketedMirror(weighted, "vis_bl_spec", buckets = 8)
    Sinks.writeTimeChanMirror(weighted, "vis_tchan_spec", buckets = 8)
    Seq("plain" -> (() => weighted),
      "bl mirror" -> (() => spark.table("vis_bl_spec")),
      "(t, chan) mirror" -> (() => spark.table("vis_tchan_spec")))
  }

  override def afterAll(): Unit = {
    try {
      spark.sql("DROP TABLE IF EXISTS vis_bl_spec")
      spark.sql("DROP TABLE IF EXISTS vis_tchan_spec")
    } finally super.afterAll()
  }

  for ((name, op, want) <- table) test(name) {
    val runs = layouts.map { case (_, src) =>
      val df = rows(op(src()))
      val out = df.collect().map(_.toSeq).toSet // executes
      (Plans.shuffles(df), out)
    }
    runs.zip(layouts).tail.foreach { case ((_, out), (layout, _)) =>
      assert(out == runs.head._2,
        s"$name: the $layout diverged from the plain layout")
    }
    val got = runs.map(_._1)
    assert(got == want, s"shuffles (plain, bl mirror, (t, chan) " +
      s"mirror): want ${want.mkString(" ")}, got ${got.mkString(" ")}")
  }

  test("σ broadcast bound counts the hashed relation, not 48 B/row") {
    val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
    // the most 128-tile, 128-channel scans whose σ rows fit the
    // threshold at 48 B/row: the hashed relation is larger than that
    val scans = (thr / 48 / (128 * 128)).toInt
    assert(scans.toLong * 128 * 128 * 48 <= thr)
    val nearThreshold = new MetaSource {
      def antenna(s: SparkSession) = SynthDims.antenna(s)
      def timestep(s: SparkSession) = SynthDims.timestep(s)
      def chan(s: SparkSession) = SynthDims.chan(s)
      def baseline(s: SparkSession) = SynthDims.baseline(s)
      def digitalGain(s: SparkSession) = SynthDims.digitalGain(s)
      def flaggedAnts(s: SparkSession) = SynthDims.flaggedAnts(s)
      override def nScans: Int = scans
      override def nAnts: Int = 128
      override def nChans: Int = 128
    }
    assert(!VanVleck.sigmaFitsBroadcast(nearThreshold, spark))
    assert(VanVleck.sigmaFitsBroadcast(SynthDims, spark))
  }
}
