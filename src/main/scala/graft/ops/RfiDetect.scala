package graft.ops

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Fused RFI detect-and-flag as a plan node: per baseline, run
  * [[RfiFlag.detectGroup]] over the group's cells and OR each cell's
  * detection into `flag`. The output is the child's own attributes, so
  * the child's `bl` clustering carries through to the stages after RFI
  * (averaging groups by a superset of `bl` and needs no exchange).
  *
  * `amps` are the detection amplitudes, one per strategy polarisation,
  * over the child's columns. Every key and amplitude is an expression
  * field, so they are the node's `references` and column pruning keeps
  * them in the child even when nothing downstream reads them.
  */
case class RfiDetect(bl: Attribute, t: Attribute, chan: Attribute,
                     flag: Attribute, amps: Seq[Expression],
                     strategy: RfiStrategy, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : RfiDetect = copy(child = newChild)
}

/** Physical [[RfiDetect]]: asks for its child clustered and sorted on
  * `bl`, copies each baseline's binary rows, and sets the `flag` bit in
  * place on every hit. Rows keep their order, so the child's
  * partitioning and ordering are this node's too.
  */
case class RfiDetectExec(bl: Attribute, t: Attribute, chan: Attribute,
                         flag: Attribute, amps: Seq[Expression],
                         strategy: RfiStrategy, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(bl)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(bl, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def ordinal(a: Attribute): Int = {
      val i = in.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"RfiDetect: ${a.name} is not in the child output")
      i
    }
    val (blI, tI, chanI, flagI) = (ordinal(bl), ordinal(t), ordinal(chan),
      ordinal(flag))
    val (ampExprs, strat) = (amps, strategy)
    child.execute().mapPartitions { rows =>
      val ampRow = UnsafeProjection.create(ampExprs, in)
      val toUnsafe = UnsafeProjection.create(in, in)
      val it = rows.buffered
      // one baseline at a time: the child is sorted on bl
      val groups = new Iterator[Array[UnsafeRow]] {
        def hasNext: Boolean = it.hasNext
        def next(): Array[UnsafeRow] = {
          val key = it.head.getLong(blI)
          val group = ArrayBuffer.empty[UnsafeRow]
          while (it.hasNext && it.head.getLong(blI) == key)
            group += (it.next() match {
              case u: UnsafeRow => u.copy()
              case r => toUnsafe(r).copy()
            })
          group.toArray
        }
      }
      groups.flatMap(g => RfiDetect.flagGroup(g(0).getLong(blI), g, tI,
        chanI, flagI, ampRow, ampExprs.length, strat))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : RfiDetectExec = copy(child = newChild)
}

object RfiDetect {

  /** Plans [[RfiDetect]] as [[RfiDetectExec]]. */
  object Planning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case RfiDetect(bl, t, chan, flag, amps, strategy, child) =>
        RfiDetectExec(bl, t, chan, flag, amps, strategy,
          planLater(child)) :: Nil
      case _ => Nil
    }

    /** Adds this strategy to the session once. */
    def setup(spark: SparkSession): Unit = {
      val ex = spark.experimental
      if (!ex.extraStrategies.contains(this))
        ex.extraStrategies = this +: ex.extraStrategies
    }
  }

  /** One baseline's rows with their detections OR'd into `flag`.
    * Duplicate samples of a cell all take that cell's detection.
    */
  private[ops] def flagGroup(bl: Long, rows: Array[UnsafeRow], tI: Int,
                             chanI: Int, flagI: Int,
                             ampRow: UnsafeProjection, nPols: Int,
                             strategy: RfiStrategy): Iterator[UnsafeRow] = {
    val cells = rows.map { r =>
      val a = ampRow(r)
      val amp = new Array[Double](nPols)
      var p = 0
      while (p < nPols) { amp(p) = a.getDouble(p); p += 1 }
      RfiCell(bl, r.getLong(tI), r.getLong(chanI),
        ArraySeq.unsafeWrapArray(amp), r.getBoolean(flagI))
    }
    val ts = cells.map(_.t).distinct.sorted
    val cs = cells.map(_.chan).distinct.sorted
    def cell(t: Long, chan: Long): Int =
      java.util.Arrays.binarySearch(ts, t) * cs.length +
        java.util.Arrays.binarySearch(cs, chan)
    val hit = new Array[Boolean](ts.length * cs.length)
    RfiFlag.detectGroup(bl, cells, strategy).foreach { o =>
      if (o.rfi) hit(cell(o.t, o.chan)) = true
    }
    var i = 0
    while (i < rows.length) {
      if (hit(cell(cells(i).t, cells(i).chan)))
        rows(i).setBoolean(flagI, true)
      i += 1
    }
    rows.iterator
  }
}
