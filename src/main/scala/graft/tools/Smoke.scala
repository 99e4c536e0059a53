package graft.tools

/** Dev smoke runner mirroring the driver's t1 gate: SparkEntry.entry must
  * return rows > 0 on sf0.001. Also prints the physical plan so plan
  * regressions (lost broadcast, unexpected shuffle) are visible.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.sessionFor("8")
    val df = graft.SparkEntry.entry(spark)
    if (args.contains("--explain")) df.explain("formatted")
    val n = df.count()
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
