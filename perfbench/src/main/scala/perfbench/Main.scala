package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Heap in use right after a full GC at the end of a pass. The second GC
  * also collects what Spark's ContextCleaner released in reaction to the
  * first.
  */
object Heap {
  def afterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host CPU accounting from /proc/stat, to tell whether anything besides
  * this process used the machine while it was measured.
  */
object HostCpu {
  /** (busy, steal) seconds of all CPUs since boot; zeros if unreadable. */
  def read(): (Double, Double) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toDouble)
      // user nice system idle iowait irq softirq steal, in 1/100 s
      ((f(0) + f(1) + f(2) + f(5) + f(6)) / 100, f(7) / 100)
    } catch { case _: Exception => (0.0, 0.0) }
}

/** The benchmark harness. One invocation runs one workload:
  *
  *  1. set-up, `SetupCycles` times: start a SparkSession, register the
  *     graft functions, run the workload's warm-up (`setup_s` is the
  *     median);
  *  2. untimed input generation;
  *  3. timed passes until `--seconds` of pass time is used (at least
  *     `MinPasses`); with `--trace 1` passes 2, 3, 6, 7, ... are traced
  *     (at least `TracedMinPasses` passes), so that traced and untraced
  *     passes alternate in pairs and each pass order of `queries` (odd
  *     passes run it reversed) is both traced and untraced;
  *  4. the correctness check; with `--trace 1`, the per-layer probes.
  *
  * It writes the result as JSON to `--result` (and the spans as JSONL to
  * `--trace-out`); perfbench/run.py builds this program, runs it and
  * prints the result line.
  */
object Main {
  val SetupCycles = 3
  val MinPasses = 1
  /** Enough for passes 2 and 3 to have an untraced pass two before and
    * two after them.
    */
  val TracedMinPasses = 6
  val FreshDocs = 4000
  /** A run is flagged contaminated when other processes or the hypervisor
    * took more than this many cores on average during the timed passes.
    */
  val ForeignCoresGate = 0.5

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def readGoldens(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap

  def workload(name: String, seed: Long, work: Path, data: String, goldens: String): Workload =
    name match {
      case "extract_fresh" => new ExtractWorkload(seed, work, FreshDocs)
      case "queries" => new QueriesWorkload(seed, work, data, readGoldens(goldens).map {
        case (n, (rows, _)) => n -> rows })
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val nproc = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg()
    val wl = workload(name, seed, work, a("data"), a("goldens"))

    var spark: SparkSession = null
    val setupS = (0 until SetupCycles).map { i =>
      if (spark != null) spark.stop()
      Workloads.timed {
        spark = graft.Bench.session(nproc.toString)
        spark.sparkContext.setLogLevel("ERROR")
        graft.functions.GraftFunctions.register(spark)
        wl.warmUp(spark, i)
      }._2
    }
    val (_, prepareS) = Workloads.timed(wl.prepare(spark))

    val sc = spark.sparkContext
    val tracer = new Tracer((k, v) => sc.setLocalProperty(k, v))
    val obs = new Obs(tracer)
    sc.addSparkListener(obs)
    spark.listenerManager.register(obs)

    final case class PassRec(wall: Double, cpu: Double, heapMb: Double,
        traced: Option[(String, PassStats)])
    val passes = ArrayBuffer[PassRec]()
    var measured = 0.0
    var p = 0
    val (host0, steal0) = HostCpu.read()
    val own0 = processCpuNs()
    val loop0 = System.nanoTime()
    while (p < (if (trace) TracedMinPasses else MinPasses) || measured < seconds) {
      val traced = trace && p % 4 >= 2
      val stats = if (traced) new PassStats else null
      val request = s"pass$p"
      obs.request = request
      obs.current = stats
      tracer.enabled = traced
      val c0 = processCpuNs()
      val (_, wall) = Workloads.timed(tracer.span("pass", request)(wl.pass(spark, p, tracer)))
      val cpu = (processCpuNs() - c0) / 1e9
      SparkInternals.drainListenerBus(sc)
      obs.current = null
      tracer.enabled = false
      passes += PassRec(wall, cpu, Heap.afterGcMb(), Option(stats).map(request -> _))
      measured += wall
      p += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val (host1, steal1) = HostCpu.read()
    // cores' worth of CPU that other processes, or the hypervisor, took
    // while the passes ran
    val foreignCores = ((host1 - host0) - (processCpuNs() - own0) / 1e9) / loopS
    val stealCores = (steal1 - steal0) / loopS
    val cacheLeft = SparkInternals.cachedEntries(spark)
    val persistedLeft = sc.getPersistentRDDs.size
    val (verdict, verifyS) = Workloads.timed(wl.verify(spark))

    val plain = passes.filter(_.traced.isEmpty)
    val walls = plain.map(_.wall).toSeq
    import Workloads.median
    val endToEnd = ListMap(
      "setup_s" -> median(setupS),
      "pass_s" -> median(walls),
      "cpu_s" -> median(plain.map(_.cpu).toSeq),
      // each pass leaves a little state behind (Spark's execution
      // history), so the max would grow with the number of passes
      "heap_mb" -> median(plain.map(_.heapMb).toSeq))

    val perLayer: ListMap[String, Double] =
      if (!trace) ListMap.empty
      else {
        val probeStats = new PassStats
        tracer.enabled = true
        obs.request = "probe"
        obs.current = probeStats
        val probes = wl.probes(spark, tracer)
        SparkInternals.drainListenerBus(sc)
        obs.current = null
        val tracedPasses = passes.flatMap(_.traced).toSeq
        val spans = tracer.all
        val self = tracer.selfUs(spans)
        def perPass(f: PassStats => Double): Double =
          tracedPasses.map { case (_, st) => f(st) }.sum / tracedPasses.length
        def spanSum(pass: String, keep: SpanRec => Boolean, us: SpanRec => Long): Double =
          spans.iterator.filter(s => (s.request == pass || s.request.startsWith(pass + "/")) && keep(s))
            .map(us).sum / 1e6
        def spansPerPass(keep: SpanRec => Boolean, us: SpanRec => Long): Double =
          tracedPasses.map { case (r, _) => spanSum(r, keep, us) }.sum / tracedPasses.length
        // each traced pass against the mean of the untraced passes two
        // before and two after it: the same query order, and neighbouring
        // positions, so that warm-up drift cancels where both exist
        val pairs = passes.indices.filter(passes(_).traced.nonEmpty).map { i =>
          val base = Seq(i - 2, i + 2).filter(passes.indices.contains).map(passes(_).wall)
          (passes(i).wall, base.sum / base.length)
        }
        ListMap(
          "spark.construct_s" -> probes.getOrElse("spark.construct_s",
            spansPerPass(_.name == Obs.ConstructSpan, _.durUs)),
          "spark.construct_jobs" ->
            (if (probes.contains("spark.construct_s")) probeStats.constructJobs.toDouble / Workloads.ProbeReps
             else perPass(_.constructJobs.toDouble)),
          "spark.plan_s" -> perPass(_.planMs / 1e3),
          "spark.jobs" -> perPass(_.jobs.toDouble),
          "spark.stages" -> perPass(_.stages.toDouble),
          "spark.single_task_stages" -> perPass(_.singleTaskStages.toDouble),
          "spark.sched_delay_s" -> perPass(_.schedDelayMs / 1e3),
          "spark.task_cpu_s" -> perPass(_.taskCpuNs / 1e9),
          "spark.gc_s" -> perPass(_.gcMs / 1e3),
          "spark.shuffle_read_bytes" -> perPass(_.shuffleReadBytes.toDouble),
          "spark.shuffle_write_bytes" -> perPass(_.shuffleWriteBytes.toDouble),
          "spark.spill_bytes" -> perPass(_.spillBytes.toDouble),
          "spark.peak_exec_mem_bytes" ->
            tracedPasses.map(_._2.peakExecMemBytes.toDouble).maxOption.getOrElse(0.0),
          "spark.cache_entries_left" -> cacheLeft.toDouble,
          "spark.persisted_rdds_left" -> persistedLeft.toDouble,
          "lineage.commit_s" -> perPass(_.commitStageMs / 1e3),
          "trace.pass_s" -> median(pairs.map(_._1)),
          "trace.untraced_pass_s" -> median(pairs.map(_._2)),
          "trace.overhead_frac" -> median(pairs.map { case (t, u) => t / u - 1 }),
          "trace.outside_jobs_s" ->
            spansPerPass(s => s.name != "spark.job" && s.name != "pass", s => self(s.id)),
          "trace.spans" -> spans.length.toDouble) ++ (probes - "spark.construct_s")
      }

    val report = ListMap[String, Any](
      "setup_s" -> ListMap("value" -> endToEnd("setup_s"), "unit" -> "s", "samples" -> setupS.length),
      "pass_s" -> ListMap("value" -> endToEnd("pass_s"), "unit" -> "s", "samples" -> walls.length)) ++
      wl.report(walls).map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) } ++
      ListMap(
        "cpu_s" -> ListMap("value" -> endToEnd("cpu_s"), "unit" -> "s", "samples" -> walls.length),
        "heap_mb" -> ListMap("value" -> endToEnd("heap_mb"), "unit" -> "MB", "samples" -> walls.length),
        "peak_heap_mb" -> ListMap("value" -> plain.map(_.heapMb).max, "unit" -> "MB"),
        "failed_frac" -> ListMap(
          "value" -> verdict.failed.toDouble / math.max(1L, verdict.attempted), "unit" -> "ratio"))

    val loadEnd = loadavg()
    val rt = ManagementFactory.getRuntimeMXBean
    val record = ListMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "inputs" -> wl.inputs, "nproc" -> nproc, "spark_master" -> sc.master,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "foreign_cpu_cores" -> foreignCores, "steal_cpu_cores" -> stealCores,
      "contaminated" -> (foreignCores > Main.ForeignCoresGate || stealCores > Main.ForeignCoresGate),
      "spark_version" -> SparkInternals.sparkVersion,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "jvm_flags" -> rt.getInputArguments.asScala.toVector,
      "spark.shuffle.sort.bypassMergeThreshold" ->
        sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold", "200 (Spark default)"),
      "setup_s_samples" -> setupS, "prepare_s" -> prepareS, "verify_s" -> verifyS,
      "pass_walls_s" -> passes.map(_.wall).toVector,
      "pass_heap_mb" -> passes.map(_.heapMb).toVector,
      "traced_passes" -> passes.map(_.traced.nonEmpty).toVector)

    val result = ListMap[String, Any](
      "correct" -> (verdict.failed == 0 && verdict.notes.isEmpty), "attempted" -> verdict.attempted,
      "failed" -> verdict.failed, "notes" -> verdict.notes,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "report" -> report, "record" -> record)
    Files.writeString(Paths.get(a("result")), Json.value(result))
    if (trace) tracer.writeJsonl(Paths.get(a("trace-out")))

    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
    System.exit(0)
  }
}
