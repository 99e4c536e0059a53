package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Largest heap occupied after any GC while `armed` — from the JVM's
  * own GC notifications, so it needs no Spark hook.
  */
object HeapWatch extends NotificationListener {
  @volatile var armed = false
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.toArray
    .collect { case p: java.lang.management.MemoryPoolMXBean
      if p.getType == MemoryType.HEAP => p.getName }.toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (armed && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      var used = 0L
      info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
        if (heapPools(pool)) used += u.getUsed
      }
      if (used > peakBytes) peakBytes = used
    }
}

/** Spark-engine counters for the traced pass, gathered from outside
  * the program: a SparkListener for jobs, tasks, CPU, GC, shuffle and
  * spill, and a QueryExecutionListener for planning time, the
  * executed (final AQE) plans and their exchange count.
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planNs = 0L
  var exchanges = 0L
  val plans = mutable.ArrayBuffer[String]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
      .append(e.taskInfo.duration)
  }

  /** max / median task time in the stage with the most tasks. */
  def stageSkew: Double = synchronized {
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.length).sorted
      val med = ts(ts.length / 2).toDouble
      if (med <= 0) 1.0 else ts.last / med
    }
  }

  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      exchanges += EngineTrace.countExchanges(qe.executedPlan)
      plans += s"== $fn ==\n${qe.executedPlan.treeString}"
    }

  override def onFailure(fn: String, qe: QueryExecution,
                         e: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object EngineTrace {
  /** Shuffle exchanges a final plan runs, looking through AQE
    * wrappers, query stages and cached relations.
    */
  def countExchanges(p: SparkPlan): Long = {
    val own = p match {
      case _: ShuffleExchangeLike => 1L
      case _ => 0L
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil // runs once, where it is defined
      case m: InMemoryTableScanExec =>
        m.relation.cachedPlan +: m.children
      case other => other.children
    }
    own + kids.map(countExchanges).sum
  }
}
