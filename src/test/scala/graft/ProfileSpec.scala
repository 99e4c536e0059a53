package graft

import graft.tools.Profile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The run profiler's listener: a drained window holds complete jobs,
  * task metrics and the executed AQE plan, repeats exactly, and a
  * second attach records nothing twice.
  */
class ProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One groupBy over a small frame, written to the noop sink. */
  private def window(): Profile.Window =
    Profile.attach(spark).record(spark) {
      spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 10).as("k")).agg(sum("id"))
        .write.format("noop").mode("overwrite").save()
    }._2

  private def counts(w: Profile.Window): (Int, Int, Int) =
    (w.jobs.size, w.work.size, w.work.map(_.tasks).sum)

  test("drained window: every job ended, within the measured wall") {
    val w = window()
    assert(w.jobs.nonEmpty)
    w.jobs.foreach(j => assert(j.end >= j.start, s"job $j"))
    assert(w.jobCoveredS > 0.0)
    assert(w.jobCoveredS <= w.wallS,
      s"job-covered ${w.jobCoveredS} s > wall ${w.wallS} s")
  }

  test("stage task metrics carry shuffle write and executor CPU") {
    val s = window().work
    assert(s.map(_.shuffleWriteBytes).sum > 0)
    assert(s.map(_.cpuNs).sum > 0)
  }

  test("the captured plan is the executed AQE plan") {
    val qs = window().queries
    assert(qs.size == 1, qs.map(_.action))
    assert(qs.head.plan.contains("AdaptiveSparkPlan isFinalPlan=true"),
      qs.head.plan)
  }

  test("two identical runs record identical job, stage and task counts") {
    assert(counts(window()) == counts(window()))
  }

  test("attaching twice does not double any count") {
    val before = window()
    assert(Profile.attach(spark) eq Profile.attach(spark))
    val after = window()
    assert(counts(after) == counts(before))
    assert(after.queries.size == before.queries.size)
  }
}
