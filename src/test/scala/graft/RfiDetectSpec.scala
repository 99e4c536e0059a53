package graft

import graft.model.Dims
import graft.ops.{FlagOps, RfiFlag, RfiStrategy, WeightOps}
import graft.sinks.Sinks
import graft.synth.VisSynth
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fused detect-and-flag plan node (`RfiDetect`): its rows are the
  * input rows with `flag = flag OR rfi`, where `rfi` is the standalone
  * per-cell mask of `RfiFlag`, over any layout and under any column
  * pruning downstream.
  */
class RfiDetectSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val strategy = RfiStrategy()

  private lazy val weighted = WeightOps.flagToWeight(FlagOps.setFlags(
    VisSynth.vis(spark, "/root/testdata/sf0.001"),
    Dims.timestep(spark), Dims.chan(spark), Dims.baseline(spark)))

  private lazy val layouts: Seq[(String, DataFrame)] = {
    Sinks.writeBucketedMirror(weighted, "vis_bl_rfidetect", buckets = 8)
    Seq("plain source" -> weighted,
      "bl mirror" -> spark.table("vis_bl_rfidetect"))
  }

  override def afterAll(): Unit = {
    try spark.sql("DROP TABLE IF EXISTS vis_bl_rfidetect")
    finally super.afterAll()
  }

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** The input with the standalone mask OR'd into `flag`. */
  private def expected(src: DataFrame): DataFrame =
    src.join(RfiFlag(src, strategy), Seq("bl", "t", "chan"))
      .withColumn("flag", col("flag") || col("rfi"))
      .select(src.columns.toSeq.map(col): _*)

  for (layout <- Seq("plain source", "bl mirror"))
    test(s"RfiDetect over the $layout equals the input with flag OR rfi") {
      val src = layouts.toMap.apply(layout)
      val out = RfiFlag.detectAndFlag(src, strategy)
      assert(out.schema == src.schema)
      val want = expected(src)
      val got = bag(out)
      assert(got == bag(want))
      val newFlags = out.where(col("flag")).count() -
        src.where(col("flag")).count()
      assert(newFlags > 0, "the fixture must exercise detection")
    }

  test("RfiDetect keeps its inputs under downstream column pruning") {
    val src = layouts.head._2
    val keys = Seq("bl", "t", "chan", "flag")
    val out = RfiFlag.detectAndFlag(src, strategy).select(keys.map(col): _*)
    assert(bag(out) == bag(expected(src).select(keys.map(col): _*)))
  }

  test("rfiBandpass shapes only the detection: visibilities untouched") {
    val src = layouts.head._2
    val pb = Dims.pfbGain(spark)
    val out = RfiFlag.detectAndFlag(src, strategy, Some(pb))
    assert(out.schema == src.schema)
    val vis = src.columns.filterNot(_ == "flag").toSeq.map(col)
    assert(bag(out.select(vis: _*)) == bag(src.select(vis: _*)))
  }
}
