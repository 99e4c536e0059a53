package graft

import graft.tools.RateReport
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** K4: the Spark-listener rate report accumulates real task metrics
  * and renders the reference-shaped summary
  * (/root/reference/src/bin/birli.rs:60-116).
  */
class RateReportSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("listener accumulates read metrics and renders rates") {
    val l = RateReport.attach(spark)
    val t0 = System.nanoTime()
    val df = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
    val n = df.count()
    // listener delivery is async; poll briefly for the task-end events
    val deadline = System.nanoTime() + 10e9.toLong
    while (l.bytesRead.sum == 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    val wall = (System.nanoTime() - t0) / 1e9
    assert(n > 0)
    assert(l.bytesRead.sum > 0, "parquet scan must report bytes read")
    assert(l.recordsRead.sum >= n)
    // each scanned row stands in for one visibility cell
    val report = RateReport.render(l, wall, cells = n)
    assert(report.contains("MiB/s"))
    assert(report.contains("data read"))
    assert(report.contains("est selected"))
  }

  test("selected-bytes estimate mirrors the reference accounting") {
    // ts x chan x bl x (Jones<f32> 32B + f32 4B + bool 1B)
    assert(RateReport.BytesPerCell == 37)
    assert(RateReport.estimatedSelectedBytes(2, 3, 5) == 2L * 3 * 5 * 37)
  }
}
