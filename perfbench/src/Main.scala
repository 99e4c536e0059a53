package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one process, one workload, one run at a time
  * (a closed loop) on `local[n]`, n = min(4, nproc).
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  * }}}
  *
  * Set-up (start a SparkSession, generate one input, one warm-up run)
  * happens once, in a cold JVM, as a user pays it; the warm-up run
  * also warms the JIT. With `--trace 0` the top-level
  * call is then timed on fresh seeded inputs of the same shape for S
  * seconds (at least `MinRuns` runs), each run's output checked, and
  * `wall_s` is the fastest run. With `--trace 1` a separate traced
  * pass reports the per-layer numbers. The last stdout line is the
  * result.
  */
object Main {

  // the fastest of three timed runs dodges a host slow patch shorter
  // than the timed phase; every run also pays a cold set-up of about
  // 25 s, and the run budget has room for no more (perfbench/NOTES.md,
  // "Workloads" and "Steadiness")
  val MinRuns = 3
  val MaxRuns = 40
  val TracedRuns = 2

  val workloads: Map[String, Workload] = Seq[Workload](
    // Birli's default run on MWAX: every correction, RFI, geometry to
    // an explicit phase centre, 2x2 averaging, uvfits
    Radio("mwax_uvfits",
      ObsShape(nTiles = 32, nCoarse = 4, fpc = 32, nScans = 8,
        intTimeS = 2.0, fineChanHz = 40e3, corrVer = 2, missingTail = 2,
        rfiShare = 0.02),
      sink = "uvfits", avgT = 2, avgF = 2,
      extraArgs = Seq("--phase-centre", Gen.PhaseRaDeg.toString,
        Gen.PhaseDecDeg.toString),
      vanVleck = false, rfi = true),
    // no kernel stage: decode plus fused projections, 4x4 averaging, MS
    Radio("mwax_ms_norfi",
      ObsShape(nTiles = 32, nCoarse = 4, fpc = 32, nScans = 8,
        intTimeS = 2.0, fineChanHz = 40e3, corrVer = 2, missingTail = 4,
        rfiShare = 0.02),
      sink = "ms", avgT = 4, avgF = 4, extraArgs = Seq("--no-rfi"),
      vanVleck = false, rfi = false),
    // legacy correlator, Van Vleck with a cold memo, RFI, flags to mwaf
    Radio("legacy_vv_mwaf",
      ObsShape(nTiles = 8, nCoarse = 2, fpc = 128, nScans = 4,
        intTimeS = 2.0, fineChanHz = 10e3, corrVer = 1, missingTail = 2,
        rfiShare = 0.02),
      sink = "mwaf", avgT = 1, avgF = 1, extraArgs = Seq("--van-vleck"),
      vanVleck = true, rfi = true),
    Corpus("corpus_ann", n = 2000, dim = 64, nClusters = 100,
      nQueries = 64, k = 10, nCentroids = 64, recallFloor = 0.3)
  ).map(w => w.name -> w).toMap

  /** Per-layer metric names, in output order. */
  val perLayer: Seq[String] = Seq(
    "sources.decode_s", "sources.decode_mib_per_s",
    "ops.flags_weights_s", "ops.van_vleck_s", "ops.cable_s",
    "ops.digital_gains_s", "ops.passband_s", "ops.rfi_s",
    "ops.rfi_flag_share", "ops.geometry_s", "ops.averaging_s",
    "sinks.uvfits_s", "sinks.ms_s", "sinks.mwaf_s", "sinks.out_mib",
    "functions.vv_cross_ns", "functions.vv_auto_ns",
    "functions.sumthreshold_ns_per_cell", "functions.iau2006_uvw_ns",
    "functions.adc_score_ns",
    "llm.ivfpq_s", "llm.ivfpq_trained_s", "llm.ivfpq_residual_rerank_s",
    "llm.train_s", "llm.index_s", "llm.search_s",
    "spark.plan_s", "spark.jobs", "spark.tasks", "spark.exchanges",
    "spark.shuffle_write_mib", "spark.spill_mib", "spark.exec_cpu_s",
    "spark.gc_s", "spark.core_util", "spark.stage_skew",
    "trace.unattributed_s", "trace.overhead_s", "peak_live_heap_mib")

  def unit(metric: String): String = metric match {
    case "wall_s" | "setup_s" => "s"
    case "cells_per_s" => "cells/s"
    case "input_mib_per_s" | "sources.decode_mib_per_s" => "MiB/s"
    case "recall_at_k" | "ops.rfi_flag_share" | "spark.core_util" |
         "spark.stage_skew" => "ratio"
    case "peak_live_heap_mib" | "sinks.out_mib" |
         "spark.shuffle_write_mib" | "spark.spill_mib" => "MiB"
    case "functions.sumthreshold_ns_per_cell" => "ns/cell"
    case m if m.endsWith("_ns") => "ns"
    case m if m.endsWith("_s") => "s"
    case _ => "count"
  }

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: Path)

  def parse(args: Seq[String]): Args = {
    val kv = args.grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Paths.get(get("--out")).toAbsolutePath)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble

  /** Share of the machine's CPU time that was busy over `ms`, from
    * /proc/stat. Unlike the load average it does not lag, so it shows
    * whether something else was running when the run started.
    */
  private def cpuBusy(ms: Long): Double = {
    def read(): (Long, Long) = {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (f.sum, f(3) + f(4)) // total, idle + iowait
    }
    val (t0, i0) = read()
    Thread.sleep(ms)
    val (t1, i1) = read()
    if (t1 == t0) 0.0 else 1.0 - (i1 - i0).toDouble / (t1 - t0)
  }

  def session(width: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$width]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", out.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(Files.delete(_))

  /** Entries in the Van Vleck cross memo's shared tier (-1 when the
    * field cannot be read). The memo is program-internal; the
    * benchmark only reads its size, to show each timed run meets the
    * same memo state.
    */
  def memoEntries(): Long = try {
    val mod = Class.forName("graft.functions.VanVleckCrossMemo$")
      .getField("MODULE$").get(null)
    val st = mod.getClass.getMethod("stateFor", classOf[Boolean])
      .invoke(mod, java.lang.Boolean.TRUE)
    val f = st.getClass.getDeclaredFields
      .find(_.getName.endsWith("sharedSize")).get
    f.setAccessible(true)
    f.get(st).asInstanceOf[java.util.concurrent.atomic.LongAdder].sum()
  } catch { case NonFatal(_) => -1L }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric $v")
    java.lang.Double.toString(v)
  }

  def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\": " + v }.mkString("{", ", ", "}")

  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val w = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}"))
    val work = a.out.resolve("work").resolve(w.name)
    deleteTree(work)
    Files.createDirectories(work)
    val load0 = loadAvg()
    val busy0 = cpuBusy(500)
    val nproc = Runtime.getRuntime.availableProcessors()
    val width = math.min(4, nproc)
    HeapWatch.install()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    def log(msg: String): Unit = System.err.println(
      f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s $msg")

    val setupStart = System.nanoTime()
    val spark = session(width, a.out)
    log("setup: session")
    var sub = 0
    var lastDir: Path = null
    def fresh(): w.In = {
      if (lastDir != null) deleteTree(lastDir)
      sub += 1
      lastDir = work.resolve(s"in$sub")
      w.gen(spark, lastDir, a.seed * 1000003L + sub)
    }
    val setupS = {
      val in = fresh()
      log("setup: generated")
      w.run(spark, in)
      log("setup: warm-up run")
      (System.nanoTime() - setupStart) / 1e9
    }

    var attempted = 0
    var failed = 0
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    val extra = scala.collection.mutable.LinkedHashMap[String, String]()
    var cells = 0L
    var mib = 0.0
    if (!a.trace) {
      val walls = scala.collection.mutable.ArrayBuffer[Double]()
      val recalls = scala.collection.mutable.ArrayBuffer[Double]()
      val memo = scala.collection.mutable.ArrayBuffer[Long]()
      val stats = scala.collection.mutable.LinkedHashMap[String, Long]()
      HeapWatch.peakBytes = 0L
      HeapWatch.armed = true
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      while (attempted < MinRuns ||
          (System.nanoTime() < deadline && attempted < MaxRuns)) {
        val in = fresh()
        cells = w.cells(in)
        mib = w.inputMiB(in)
        w.inputStats(in).foreach { case (k, v) =>
          stats(k) = stats.getOrElse(k, 0L) + v }
        memo += memoEntries()
        attempted += 1
        try {
          val t0 = System.nanoTime()
          w.run(spark, in)
          val wall = (System.nanoTime() - t0) / 1e9
          val r = w.check(spark, in)
          log(f"run $attempted: wall $wall%.3f s, checked")
          walls += wall
          if (attempted <= MinRuns) recalls += r
        } catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] run $attempted failed: $e")
        }
      }
      HeapWatch.armed = false
      memo += memoEntries()
      if (walls.nonEmpty) {
        // the fastest run: slowdowns from other tenants of the host are
        // one-sided and last tens of seconds, long enough to move a
        // median of a few runs (perfbench/NOTES.md, "Steadiness")
        val wall = walls.min
        metrics("wall_s") = wall
        metrics("cells_per_s") = cells / wall
        metrics("input_mib_per_s") = mib / wall
        metrics("recall_at_k") = recalls.sum / math.max(1, recalls.length)
        metrics("setup_s") = setupS
      }
      extra("peak_live_heap_mib") = num(HeapWatch.peakBytes / 1048576.0)
      extra("walls_s") = walls.map(num).mkString("[", ", ", "]")
      if (walls.nonEmpty) extra("wall_median_s") = num(median(walls.toSeq))
      extra("recalls") = recalls.map(num).mkString("[", ", ", "]")
      // the Van Vleck memo's shared entries before each timed run and
      // after the last: every run should start below the insert cap
      extra("vv_memo_entries") = memo.mkString("[", ", ", "]")
      extra("input_stats_summed") = jsonObj(stats.toSeq.map {
        case (k, v) => k -> v.toString })
    } else {
      HeapWatch.peakBytes = 0L
      HeapWatch.armed = true
      // two untraced and two traced runs; the engine counters are per
      // traced run
      val engine = new EngineTrace
      val span = new Span
      val untraced = scala.collection.mutable.ArrayBuffer[Double]()
      val tracedS = scala.collection.mutable.ArrayBuffer[Double]()
      def untracedRun(): Unit = {
        val u = fresh()
        val t0 = System.nanoTime()
        w.run(spark, u)
        untraced += (System.nanoTime() - t0) / 1e9
      }
      def tracedRun(): Unit = {
        val in = fresh()
        cells = w.cells(in)
        mib = w.inputMiB(in)
        attempted += 1
        engine.plans.clear()
        engine.register(spark)
        val t = scala.util.Try(span.time("top") { w.run(spark, in) })
        org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
        engine.unregister(spark)
        t.map { s => w.check(spark, in); tracedS += s }.failed.foreach { e =>
          failed += 1
          System.err.println(s"[perfbench] traced run failed: $e")
        }
      }
      // ABBA order: the JIT is still warming, and each side gets one
      // earlier and one later slot
      untracedRun(); tracedRun(); tracedRun(); untracedRun()
      HeapWatch.armed = false
      metrics("peak_live_heap_mib") = HeapWatch.peakBytes / 1048576.0
      val traced = if (tracedS.isEmpty) 0.0 else median(tracedS.toSeq)
      val plansDir = a.out.resolve("plans")
      Files.createDirectories(plansDir)
      // literal arrays (codebooks, dimension rows) make some plan lines
      // very long; the plan's shape is what the file is for
      Files.write(plansDir.resolve(s"${w.name}.txt"),
        engine.plans.mkString("\n\n").linesIterator
          .map(l => if (l.length > 400) l.take(400) + " ..." else l)
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      val layers = w.layers(spark, () => fresh(), span)
      val kernels = Kernels.run(a.seed)
      kernels.foreach(k => metrics(k.name) = k.ns)
      kernels.foreach(k => extra(s"${k.name}.ops") =
        s"""{"count": ${k.ops}, "unit": ${str(k.opUnit)}}""")
      val n = TracedRuns.toDouble
      val cpuS = engine.cpuNs / 1e9 / n
      val eng = Map(
        "spark.plan_s" -> engine.planNs / 1e9 / n,
        "spark.jobs" -> engine.jobs / n,
        "spark.tasks" -> engine.tasks / n,
        "spark.exchanges" -> engine.exchanges / n,
        "spark.shuffle_write_mib" -> engine.shuffleWriteBytes / 1048576.0 / n,
        "spark.spill_mib" -> engine.spillBytes / 1048576.0 / n,
        "spark.exec_cpu_s" -> cpuS,
        "spark.gc_s" -> engine.gcMs / 1e3 / n,
        "spark.core_util" -> cpuS / (math.max(traced, 1e-9) * width),
        "spark.stage_skew" -> engine.stageSkew,
        "trace.unattributed_s" -> (traced - w.pipelineS(layers)),
        "trace.overhead_s" -> (traced - median(untraced.toSeq)))
      perLayer.foreach { m =>
        metrics(m) = layers.get(m).orElse(eng.get(m))
          .orElse(metrics.get(m)).getOrElse {
            // a layer this workload does not call: its span covers no
            // call (a time), or its count is zero
            if (unit(m) == "s") span.time(m.takeWhile(_ != '.')) {}
            else 0.0
          }
      }
      extra("spans") = span.spans.map { case (l, t0, t1) =>
        s"[${str(l)}, ${num((t1 - t0) / 1e9)}]" }.mkString("[", ", ", "]")
      extra("traced_s") = tracedS.map(num).mkString("[", ", ", "]")
      extra("untraced_s") = untraced.map(num).mkString("[", ", ", "]")
    }
    if (lastDir != null) deleteTree(lastDir)
    val load1 = loadAvg()

    val basis = Seq(
      "workload" -> str(w.name), "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> nproc.toString, "local_n" -> width.toString,
      "heap_max_mib" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> str(System.getProperty("java.version")),
      "spark" -> str(spark.version),
      "shape" -> str(w.toString),
      "cells" -> cells.toString, "input_mib" -> num(mib),
      "setup_s" -> num(setupS),
      "load_before" -> num(load0), "load_after" -> num(load1),
      "cpu_busy_before" -> num(busy0),
      "quiet" -> (busy0 < 0.25).toString)
    spark.stop()

    val correct = attempted >= 1 && failed == 0
    val ms = metrics.toSeq.map { case (k, v) =>
      k -> jsonObj(Seq("value" -> num(v), "unit" -> str(unit(k))))
    }
    val result = jsonObj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> jsonObj(ms)))
    val record = jsonObj(Seq("basis" -> jsonObj(basis),
      "extra" -> jsonObj(extra.toSeq), "result" -> result))
    val resDir = a.out.resolve("results")
    Files.createDirectories(resDir)
    Files.write(resDir.resolve(
      s"${w.name}_seed${a.seed}_trace${if (a.trace) 1 else 0}.json"),
      record.getBytes("UTF-8"))
    println(result)
  }
}
