package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.collection.mutable

import graft.{Bench, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker.{ANALYSIS, OPTIMIZATION, PLANNING}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The run profiler: one listener per session recording every job,
  * the task metrics of every completed stage and the executed plan of
  * every query execution, and a main that profiles named SparkEntry
  * queries with it.
  *
  * Reads are deterministic: [[Listener.drain]] runs a marked sentinel
  * query and waits for that query's own success callback. The
  * listener bus delivers one queue's events in order, so once the
  * sentinel's callback has run, every earlier job, stage and query
  * event has landed. The sentinel's jobs and plan are never recorded;
  * its stages are, flagged `sentinel`.
  */
object Profile {

  /** Job description (and observation name) marking the sentinel. */
  private val Sentinel = "__profile_drain__"

  /** One job. `start` and `end` are the scheduler's event times (epoch
    * ms; `end` is -1 until the job ends); `tasks` counts the tasks of
    * its completed stages.
    */
  final case class Job(id: Int, start: Long, end: Long, desc: String,
                       tasks: Int)

  /** One completed stage attempt, its tasks' metrics summed. */
  final case class Stage(id: Int, job: Int, tasks: Int, cpuNs: Long,
                         runMs: Long, gcMs: Long,
                         shuffleReadBytes: Long, shuffleReadRecords: Long,
                         shuffleWriteBytes: Long,
                         shuffleWriteRecords: Long, spillBytes: Long,
                         inputBytes: Long, inputRecords: Long,
                         outputBytes: Long, outputRecords: Long,
                         sentinel: Boolean)

  /** One successful query execution: the action, the Catalyst phase
    * times and the executed plan (for an AQE plan, the
    * final one).
    */
  final case class Query(action: String, phasesMs: Seq[(String, Long)],
                         plan: String)

  /** Everything recorded between two drains, and its wall. */
  final case class Window(startMs: Long, endMs: Long, jobs: Seq[Job],
                          stages: Seq[Stage], queries: Seq[Query]) {
    def wallS: Double = (endMs - startMs) / 1e3

    /** Wall during which at least one job ran. */
    def jobCoveredS: Double = {
      var covered = 0L
      var reach = startMs
      jobs.map(j => (j.start.max(startMs), j.end.min(endMs)))
        .sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - a.max(reach); reach = b }
        }
      covered / 1e3
    }

    /** The program's stages, the sentinel's left out. */
    def work: Seq[Stage] = stages.filterNot(_.sentinel)
  }

  final class Listener private[Profile] ()
      extends SparkListener with QueryExecutionListener {
    /** Running totals over the program's stages since the last reset. */
    val bytesRead, recordsRead, bytesWritten, recordsWritten, runTimeMs =
      new LongAdder

    private val jobBuf = mutable.LinkedHashMap[Int, Job]()
    private val stageBuf = mutable.ArrayBuffer[Stage]()
    private val queryBuf = mutable.ArrayBuffer[Query]()
    private val stageJob = mutable.Map[Int, Int]()
    private val sentinelJobs = mutable.Set[Int]()
    private val sentinelsSeen = new AtomicInteger

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the description, else the call site the result stage is named by
      val desc = prop("spark.job.description").getOrElse(
        e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
      e.stageIds.foreach(stageJob(_) = e.jobId)
      if (desc == Sentinel) sentinelJobs += e.jobId
      else jobBuf(e.jobId) = Job(e.jobId, e.time, -1L, desc, 0)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobBuf.get(e.jobId).foreach(j => jobBuf(e.jobId) = j.copy(end = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) {
          val job = stageJob.getOrElse(si.stageId, -1)
          val s = Stage(si.stageId, job, si.numTasks, m.executorCpuTime,
            m.executorRunTime, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
            sentinelJobs(job))
          stageBuf += s
          if (!s.sentinel) {
            bytesRead.add(s.inputBytes)
            recordsRead.add(s.inputRecords)
            bytesWritten.add(s.outputBytes)
            recordsWritten.add(s.outputRecords)
            runTimeMs.add(s.runMs)
            jobBuf.get(job).foreach(j =>
              jobBuf(job) = j.copy(tasks = j.tasks + s.tasks))
          }
        }
      }

    override def onSuccess(action: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (qe.observedMetrics.contains(Sentinel))
        sentinelsSeen.incrementAndGet()
      else {
        val phases = Seq(ANALYSIS, OPTIMIZATION, PLANNING).flatMap(k =>
          qe.tracker.phases.get(k).map(p => k -> p.durationMs))
        val plan = qe.executedPlan.treeString
        synchronized(queryBuf += Query(action, phases, plan))
      }

    override def onFailure(action: String, qe: QueryExecution,
                           e: Exception): Unit = ()

    /** Block until every event posted before this call is delivered. */
    def drain(spark: SparkSession): Unit = {
      val seen = sentinelsSeen.get
      val sc = spark.sparkContext
      val desc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(Sentinel)
      try spark.range(1).observe(Sentinel, count(lit(1))).count()
      finally sc.setJobDescription(desc)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sentinelsSeen.get == seen && System.nanoTime() < deadline)
        Thread.sleep(5)
      require(sentinelsSeen.get != seen,
        "listener bus did not deliver the drain sentinel within 30 s")
    }

    /** Forget everything recorded so far. */
    def reset(): Unit = synchronized {
      Seq(bytesRead, recordsRead, bytesWritten, recordsWritten, runTimeMs)
        .foreach(_.reset())
      jobBuf.clear(); stageBuf.clear(); queryBuf.clear()
      stageJob.clear(); sentinelJobs.clear()
    }

    /** Run `body` between two drains and return what it recorded: its
      * jobs, its stages (the closing sentinel's too) and its queries.
      */
    def record[T](spark: SparkSession)(body: => T): (T, Window) = {
      drain(spark)
      reset()
      val startMs = System.currentTimeMillis()
      val out = body
      val endMs = System.currentTimeMillis()
      drain(spark)
      synchronized {
        (out, Window(startMs, endMs, jobBuf.values.toSeq, stageBuf.toSeq,
          queryBuf.toSeq))
      }
    }
  }

  private val attached = new java.util.WeakHashMap[SparkSession, Listener]

  /** The session's listener, registered on its first attach; later
    * attaches return the same one.
    */
  def attach(spark: SparkSession): Listener = attached.synchronized {
    Option(attached.get(spark)).getOrElse {
      val l = new Listener
      spark.listenerManager.register(l)
      spark.sparkContext.addSparkListener(l)
      attached.put(spark, l)
      l
    }
  }

  private def mib(bytes: Long): Double = bytes / 1048576.0

  /** Profile each named query: a warm-up discard and
    * SPARK_GRAFT_BENCH_RUNS timed `noop` runs with their median, then,
    * for the median run, the wall its jobs cover and the driver gap,
    * the Catalyst phases, one row per job, the stage totals and the
    * executed plan.
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = Bench.sessionFor(cpus)
    val profile = attach(spark)
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      def run(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val built = (System.nanoTime() - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        built
      }
      run() // warm-up, discarded
      val timed = (1 to runs).map(_ => profile.record(spark)(run()))
      val walls = timed.map(_._2.wallS)
      val (constructS, w) = timed.sortBy(_._2.wallS).apply((runs - 1) / 2)
      println(s"== $name  ($sfDir, local[$cpus], 1 warm-up + $runs timed)")
      println(f"[runs]   walls ${walls.map(t => f"$t%.3f").mkString(", ")} s" +
        f"  median ${Bench.median(walls)}%.3f s")
      println(f"[gap]    wall ${w.wallS}%.3f s  job-covered " +
        f"${w.jobCoveredS}%.3f s  gap ${w.wallS - w.jobCoveredS}%.3f s" +
        f"  jobs ${w.jobs.size}  (median run)")
      val write = w.queries.lastOption
      println(f"[phase]  construct $constructS%.3f s" + write.map(_.phasesMs
        .map { case (k, ms) => f"  $k ${ms / 1e3}%.3f s" }.mkString)
        .getOrElse(""))
      w.jobs.sortBy(_.start).foreach { j =>
        println(f"[job] ${j.id}%5d  at ${(j.start - w.startMs) / 1e3}%7.3f s" +
          f"  dur ${(j.end - j.start) / 1e3}%7.3f s  tasks ${j.tasks}%4d" +
          s"  ${j.desc.take(120)}")
      }
      val s = w.work
      def sum(f: Stage => Long) = s.map(f).sum
      println(f"[totals] stages ${s.size}  tasks ${sum(_.tasks)}  " +
        f"cpu ${sum(_.cpuNs) / 1e9}%.3f s  run ${sum(_.runMs) / 1e3}%.3f s" +
        f"  gc ${sum(_.gcMs) / 1e3}%.3f s  queries ${w.queries.size}")
      println(f"[totals] shuffle read ${mib(sum(_.shuffleReadBytes))}%.2f MiB" +
        f" / ${sum(_.shuffleReadRecords)} rec  write " +
        f"${mib(sum(_.shuffleWriteBytes))}%.2f MiB / " +
        f"${sum(_.shuffleWriteRecords)} rec  spill " +
        f"${mib(sum(_.spillBytes))}%.2f MiB")
      println(f"[totals] input ${mib(sum(_.inputBytes))}%.2f MiB / " +
        f"${sum(_.inputRecords)} rec  output ${mib(sum(_.outputBytes))}%.2f" +
        f" MiB / ${sum(_.outputRecords)} rec")
      write.foreach(q => println(s"[plan]   executed plan of `${q.action}`:\n" +
        q.plan.stripLineEnd))
    }
    spark.stop()
  }
}
