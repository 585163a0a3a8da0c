package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM with one client thread and writes the
  * result record as JSON. `perfbench/run.py` generates the inputs, starts
  * this, checks the record and prints the benchmark's result line.
  *
  * Phases: set-up (session, staging, warm-up until cycle times converge),
  * an untraced measurement of `--seconds`, and with `--trace 1` a second,
  * traced measurement of the same length whose spans and listener events
  * give the per-layer numbers.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val t0 = a("t0").toLong
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Host.stealTicks()
    Host.watchGc()

    // long call sites, so a job's stack reaches the engine frame; Spark
    // reads this one from the system properties, not from its conf
    System.setProperty("spark.callstack.depth", "400")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.checkpoint.dir", s"$work/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder
    if (traced) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }

    val tracer = new Tracer(false)
    val runner = new Runner(spark, tracer)
    val sessionAt = System.currentTimeMillis()
    // run.py generates the inputs while the session starts
    val ready = Paths.get(a("ready"))
    while (!Files.exists(ready)) Thread.sleep(20)
    val inputsAt = System.currentTimeMillis()
    val wl: Workload = workload match {
      case "analytics" =>
        new Analytics(a("inputs"), a("seed").toLong, readExpected(a("expected")))
      case "corpus_dedup" => new CorpusDedup(a("inputs"))
      case "ingest_maintain" =>
        new IngestMaintain(a("inputs"), work, a("batches").toInt)
      case other => sys.error(s"unknown workload $other")
    }
    wl.setup(runner)
    val stagedAt = System.currentTimeMillis()
    val warm = warmUp(wl, runner)
    val measureStart = System.currentTimeMillis()
    val setupS = (measureStart - t0) / 1000.0
    val warmControl = Stats.median(runner.controlMs.toSeq)

    val (plain, cycles) = measure(wl, runner, seconds)
    val measureEnd = System.currentTimeMillis()
    val control = Stats.median(runner.controlMs.toSeq)
    var layer = Map.empty[String, Double]
    var eager = Map.empty[String, Int]
    var unattributed = Map.empty[String, Int]
    if (traced) {
      recorder.on = true
      tracer.enabled = true
      val (withTrace, _) = measure(wl, runner, seconds)
      tracer.enabled = false
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      recorder.on = false
      val (m, e, u) = Layers.compute(withTrace, tracer.spans, recorder, cores)
      val p0 = Stats.median(wl.latencies(plain))
      val p1 = Stats.median(wl.latencies(withTrace))
      layer = m ++ wl.layerMetrics(withTrace, tracer.spans) ++ Map(
        "trace.overhead_ms" -> (p1 - p0), "trace.overhead_frac" -> (p1 - p0) / p0)
      eager = e
      unattributed = u
    }
    wl.finish(runner)
    val finishEnd = System.currentTimeMillis()
    val okMs = wl.latencies(plain)
    val tail = wl.tail(plain)
    // latencies and throughput restated on the reference host of
    // [[Control]]; the raw ones are in the detail line
    val raw = Map(
      "op_p50_ms" -> Stats.median(okMs),
      "op_tail_ms" -> tail.value,
      "work_per_s" -> wl.workPerSecond(plain))
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> raw("op_p50_ms") * Control.toReference(control),
      "op_tail_ms" -> raw("op_tail_ms") * Control.toReference(control),
      "work_per_s" -> raw("work_per_s") / Control.toReference(control),
      "peak_mem_mb" -> Host.peakAfterGcMb)
    // a metric a workload has no use for reads 0
    layer = Layers.names.map(_._1 -> 0.0).toMap ++ layer +
      ("error_rate" -> runner.failed.toDouble / runner.attempted)
    val kinds = plain.groupBy(_.kind).map { case (k, v) =>
      val ms = v.filter(_.ok).map(_.totalMs)
      k -> Map("n" -> ms.length.toDouble, "p50_ms" -> Stats.median(ms),
        "tail_ms" -> Stats.tail(ms).value, "tail_pct" -> Stats.tail(ms).percentile)
    }
    val byName = plain.filter(_.ok).groupBy(_.name).map { case (k, v) =>
      k -> Stats.median(v.map(_.totalMs)) }
    val info = Map(
      "tail_pct" -> tail.percentile, "samples" -> tail.samples.toDouble,
      "setup_before_jvm_s" -> (jvmStart - t0) / 1000.0,
      "setup_session_s" -> (sessionAt - jvmStart) / 1000.0,
      "setup_inputs_wait_s" -> (inputsAt - sessionAt) / 1000.0,
      "setup_staging_s" -> (stagedAt - inputsAt) / 1000.0,
      "setup_warmup_s" -> (measureStart - stagedAt) / 1000.0,
      "measure_s" -> (measureEnd - measureStart) / 1000.0,
      // the traced measurement, when there is one, and the end-state checks
      "after_measure_s" -> (finishEnd - measureEnd) / 1000.0,
      "warmup_cycles" -> warm.length.toDouble,
      // 1 when the last warm-up step is within 20% of the same work measured
      "warmup_converged" ->
        (if (math.abs(warm.last - wl.stepMs(plain, cycles)) <=
               0.2 * wl.stepMs(plain, cycles)) 1.0 else 0.0),
      "measured_cycles" -> cycles.toDouble, "nproc" -> Host.nproc.toDouble,
      "cores" -> cores.toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "steal_ticks" -> (Host.stealTicks() - steal0).toDouble,
      "peak_rss_mb" -> Host.peakRssMb(),
      "control_warmup_ms" -> warmControl, "control_ms" -> control) ++
      raw.map { case (k, v) => s"raw_$k" -> v }
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "spark_version" -> Json.str(spark.version),
      "attempted" -> runner.attempted.toString,
      "failed" -> runner.failed.toString,
      "end_to_end" -> Json.nums(e2e),
      "per_layer" -> Json.nums(layer),
      "info" -> Json.nums(info),
      "by_kind" -> Json.obj(kinds.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.nums(v) }),
      "p50_ms_by_name" -> Json.nums(byName),
      "warmup_cycle_ms" -> warm.map(Json.num).mkString("[", ", ", "]"),
      "eager_job_sites" -> Json.nums(eager.map { case (k, v) => k -> v.toDouble }),
      "unattributed_job_sites" ->
        Json.nums(unattributed.map { case (k, v) => k -> v.toDouble })))
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
    spark.stop()
  }

  /** Warm-up steps until two consecutive step times agree within 20%, at
    * least the workload's minimum and at most its budget. Returns the step
    * times in ms, summed over the step's operations as the measurement
    * sums them.
    */
  private def warmUp(wl: Workload, r: Runner): Seq[Double] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    r.controlMs.clear()
    def converged = times.length >= 2 &&
      math.abs(times.last - times(times.length - 2)) <= 0.2 * times(times.length - 2)
    r.recording = true
    while (times.length < wl.minWarmUpSteps ||
        (times.length < wl.maxWarmUpSteps && !converged)) {
      r.samples.clear()
      wl.warmUpStep(r)
      times += wl.stepMs(r.samples.toSeq, 1)
    }
    r.recording = false
    r.samples.clear()
    times.toSeq
  }

  /** Whole cycles, as many as come nearest to `seconds` and at least the
    * workload's minimum: another cycle starts while it would end closer to
    * `seconds` than stopping now. Returns the samples and the number of
    * cycles.
    */
  private def measure(wl: Workload, r: Runner, seconds: Double)
      : (Seq[OpSample], Int) = {
    r.samples.clear()
    r.controlMs.clear()
    r.recording = true
    val t = System.nanoTime()
    var cycles = 0
    var last = 0.0
    do {
      val c = System.nanoTime()
      wl.cycle(r)
      cycles += 1
      last = (System.nanoTime() - c) / 1e9
    } while (cycles < wl.minMeasuredCycles ||
      (System.nanoTime() - t) / 1e9 + last / 2 < seconds)
    r.recording = false
    (r.samples.toList, cycles)
  }

  private def readExpected(path: String): Map[String, (String, Int)] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, sha, n) = l.split('\t')
      name -> (sha, n.toInt)
    }.toMap
}

/** Host facts for the result record, read from /proc on Linux. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** Steal ticks summed over the aggregate cpu line, 0 where unreadable. */
  def stealTicks(): Long =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong else 0L
    } catch { case _: Exception => 0L }

  private val afterGc = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Memory in use right after a collection, every pool summed (heap and
    * non-heap), at its highest so far, in MB. Unlike the resident set, it
    * does not depend on how far the collector chose to grow the heap.
    */
  def peakAfterGcMb: Double = afterGc.get / 1048576.0

  /** Track [[peakAfterGcMb]] from the collectors' notifications. */
  def watchGc(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
          .map(_.getUsed).sum
        afterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener(listener, null, null)
        case _ =>
      }
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    catch { case _: Exception => 0.0 }
}

/** Minimal JSON writing for the result record. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
