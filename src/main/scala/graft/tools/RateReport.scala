package graft.tools

import org.apache.spark.sql.SparkSession

/** K4: the reference's end-of-run rate report
  * (/root/reference/src/bin/birli.rs:60-116) re-expressed on Spark's
  * own instrumentation.
  *
  * The reference times its read/write stages and prints estimated
  * selected/averaged data volumes with MiB/s rates. On Spark the
  * equivalent signal is the task-metrics stream: the session's
  * [[Profile]] listener totals bytes/records read and written across
  * all stages (the distributed analogue of the reference's
  * single-process counters), and the estimate formulas reproduce the
  * reference's `ts·ch·bl·(sizeof(Jones<f32>) + sizeof(f32) +
  * sizeof(bool))` accounting from the observation dims.
  */
object RateReport {

  /** Bytes per visibility cell in the reference's accounting:
    * Jones<f32> (8 × 4) + weight f32 + flag bool.
    */
  val BytesPerCell: Long = 8L * 4 + 4 + 1

  /** Reference-style estimate of the selected-data volume. */
  def estimatedSelectedBytes(nTimesteps: Long, nChans: Long,
                             nBaselines: Long): Long =
    nTimesteps * nChans * nBaselines * BytesPerCell

  /** The session's [[Profile]] listener, whose totals the report reads. */
  def attach(spark: SparkSession): Profile.Listener = Profile.attach(spark)

  private def mib(bytes: Double): Double = bytes / (1 << 20)

  /** Render the reference-shaped report for a measured wall time over
    * an observation of `cells` visibility cells (ts x chan x bl).
    */
  def render(l: Profile.Listener, wallSecs: Double, cells: Long): String = {
    val readRate = if (wallSecs > 0) mib(l.bytesRead.sum.toDouble) /
      wallSecs else 0.0
    val writeRate = if (wallSecs > 0) mib(l.bytesWritten.sum.toDouble) /
      wallSecs else 0.0
    f"""data read    = ${mib(l.bytesRead.sum.toDouble)}%10.2f MiB (${l.recordsRead.sum}%d records) @ $readRate%8.3f MiB/s
       |data written = ${mib(l.bytesWritten.sum.toDouble)}%10.2f MiB (${l.recordsWritten.sum}%d records) @ $writeRate%8.3f MiB/s
       |task time    = ${l.runTimeMs.sum / 1000.0}%10.2f s across tasks (wall $wallSecs%.2f s)
       |est selected = ${mib(cells.toDouble * BytesPerCell)}%10.2f MiB (ts x chan x bl x ${BytesPerCell}B)""".stripMargin
  }
}
