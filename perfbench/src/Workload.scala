package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One benchmark workload: seeded inputs, one top-level call, an
  * output check, and the traced per-layer pass.
  */
trait Workload {
  type In
  def name: String
  def gen(spark: SparkSession, dir: Path, seed: Long): In
  def run(spark: SparkSession, in: In): Unit
  /** Checks the last run's output and throws [[CheckFailed]] on any
    * miss. Returns the workload's recall@k: a ranking's measured
    * recall, or 1.0 for an observation, whose check is all or nothing.
    */
  def check(spark: SparkSession, in: In): Double
  /** Counts describing one generated input, summed over the timed
    * runs into the run record.
    */
  def inputStats(in: In): Seq[(String, Long)] = Nil
  def inputMiB(in: In): Double
  def cells(in: In): Long
  def layers(spark: SparkSession, fresh: () => In,
             span: Span): Map[String, Double]
  /** The share of the top-level call the layer steps account for. */
  def pipelineS(layers: Map[String, Double]): Double
}

/** Spans recorded around the calls into each layer, kept in memory
  * and written out when the run ends. A layer the workload does not
  * call still gets its span, which then covers no call.
  */
final class Span {
  val spans = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()

  def time(layer: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    spans += ((layer, t0, t1))
    (t1 - t0) / 1e9
  }
}
