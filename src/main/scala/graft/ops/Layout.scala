package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.exchange.EnsureRequirements
import org.apache.spark.sql.functions.col

/** Shuffle placement stated as a layout requirement: an operator names
  * the axis its kernel runs on, and the source layout decides whether
  * that costs an exchange.
  */
object Layout {

  /** `df` clustered on `keys`: unchanged when [[satisfies]] holds,
    * else hash-repartitioned to the session's shuffle width. A
    * repartition by number is exempt from AQE's byte-sized coalescing,
    * which would fold a model-sized shuffle feeding a CPU-bound kernel
    * onto 2-3 tasks.
    */
  def clustered(df: DataFrame, keys: String*): DataFrame =
    if (satisfies(df, keys: _*)) df
    else df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      keys.map(col): _*)

  /** Whether the planned physical partitioning of `df` already
    * satisfies `ClusteredDistribution(keys)` — a scan bucketed on a
    * subset of the keys, or an earlier exchange on one. Read from the
    * planner's output with exchanges inserted but before bucketed scans
    * are pruned, since this plan alone has no consumer that would keep
    * a bucketed scan.
    */
  def satisfies(df: DataFrame, keys: String*): Boolean = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    val plan = EnsureRequirements()(df.queryExecution.sparkPlan)
    val attrs = keys.map(k =>
      plan.output.find(a => resolver(a.name, k)).getOrElse(
        sys.error(s"Layout: no column '$k' in " +
          plan.output.map(_.name).mkString(", "))))
    plan.outputPartitioning.satisfies(ClusteredDistribution(attrs))
  }
}
