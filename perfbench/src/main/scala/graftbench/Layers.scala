package graftbench

/** Per-layer numbers of a traced run, from the benchmark's spans and
  * Spark's listener events. Every value is a mean per operation unless
  * its name says otherwise; `fn.*.self_ms` is a mean per call.
  */
object Layers {
  val layers: Seq[String] = Seq("bench", "queries", "operators", "functions",
    "plans", "sources", "etl", "stores", "spark")

  /** Every public function a workload calls, as `Object.function`. */
  val functions: Seq[String] = Seq(
    "GraftQuery.fn", "Dashboard.applySelections", "Dashboard.kpis",
    "Dashboard.groupedCounts",
    "Dedup.signatures", "Lineage.cut", "Dedup.lshCandidatePairsFromSigs",
    "TextFunctions.tokens", "Dedup.jaccardTokens", "Dedup.connectedComponents",
    "SetSimJoin.jaccardPairs", "Packing.packByTokenBudget",
    "Dedup.incrementalNearDupFromStore", "SetSimJoin.incrementalJaccardPairs",
    "EvCsvSource.readClean", "Upsert.upsertByVin", "Sinks.writeSnapshot",
    "Bm25.appendDocs", "SetSimJoin.appendSets", "Sinks.appendBatch",
    "Dedup.appendSignatureStore", "Bm25.compactIndex", "SetSimJoin.compactSets",
    "Dedup.compactSignatureStore", "Bm25.loadIndex", "Bm25.queryIndex")

  val stores: Seq[String] = Seq("bm25", "sets", "sigs", "ev")

  /** Each store timing and the public function whose spans give it. A
    * probe also counts the action that consumes the probing call's result
    * in the same operation.
    */
  val storeCalls: Seq[(String, String)] = Seq(
    "store.bm25.append_ms" -> "Bm25.appendDocs",
    "store.bm25.load_ms" -> "Bm25.loadIndex",
    "store.bm25.probe_ms" -> "Bm25.queryIndex",
    "store.bm25.compact_ms" -> "Bm25.compactIndex",
    "store.sets.append_ms" -> "SetSimJoin.appendSets",
    "store.sets.probe_ms" -> "SetSimJoin.incrementalJaccardPairs",
    "store.sets.compact_ms" -> "SetSimJoin.compactSets",
    "store.sigs.append_ms" -> "Dedup.appendSignatureStore",
    "store.sigs.probe_ms" -> "Dedup.incrementalNearDupFromStore",
    "store.sigs.compact_ms" -> "Dedup.compactSignatureStore",
    "store.ev.append_ms" -> "Sinks.writeSnapshot")

  /** Mean ms per call of every store timing in [[storeCalls]]. */
  def storeTimes(spans: Seq[Span]): Map[String, Double] = {
    val action = spans.filter(_.name == "action").map(s => s.op -> s.dur).toMap
    storeCalls.map { case (metric, f) =>
      val probe = metric.endsWith(".probe_ms")
      val calls = spans.filter(_.name == s"fn.$f")
        .map(s => (s.dur + (if (probe) action.getOrElse(s.op, 0L) else 0L)) / 1e6)
      metric -> mean(calls)
    }.toMap
  }

  /** Every per-layer metric name with its unit, in output order. */
  val names: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.executions" -> "count",
    "plan.exchanges" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.launch_delay_ms" -> "ms", "sched.task_run_ms" -> "ms",
    "sched.task_cpu_ms" -> "ms", "sched.core_busy" -> "ratio",
    "sched.failed_tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "spill.bytes" -> "bytes",
    "exec.peak_mem_bytes" -> "bytes",
    "scan.input_bytes" -> "bytes", "cache.scan_hit_frac" -> "ratio",
    "blocks.retained_mb" -> "MB",
    "op.build_ms" -> "ms", "op.action_ms" -> "ms", "op.eager_jobs" -> "count",
    "share.catalyst_sched" -> "ratio",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.candidate_yield" -> "ratio") ++
    storeCalls.map(_._1 -> "ms") ++
    stores.flatMap(s => Seq(s"store.$s.bytes" -> "bytes",
      s"store.$s.files" -> "count", s"store.$s.bytes_written" -> "bytes")) ++
    Seq("store.space_amp" -> "ratio", "etl.rows_in" -> "count",
      "etl.rows_kept" -> "count", "jvm.gc_ms" -> "ms", "jvm.heap_used_mb" -> "MB",
      "error_rate" -> "ratio", "trace.unattributed_jobs" -> "count",
      "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "ratio") ++
    layers.map(l => s"layer.$l.self_ms" -> "ms") ++
    functions.flatMap(f => Seq(s"fn.$f.self_ms" -> "ms", s"fn.$f.calls" -> "count"))

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Spark-side and span-side numbers for the traced samples. Returns the
    * metrics, and the call-site labels of eager jobs and of unattributed
    * jobs with their counts.
    */
  def compute(samples: Seq[OpSample], spans: Seq[Span], rec: Recorder,
              slots: Int)
      : (Map[String, Double], Map[String, Int], Map[String, Int]) = {
    val (jobs, stages, tasks, qes) = rec.snapshot
    val windows = samples.map(s =>
      Events.OpWindow(s.id, s.start, s.actionStart, s.end))
    val (byOp, outside) = Trace.attribute(jobs, windows)
    val lo = windows.map(_.start).minOption.getOrElse(0L)
    val hi = windows.map(_.end).maxOption.getOrElse(0L)
    val unattributed = outside.filter(j => j.start >= lo && j.start <= hi)
    val stageSubmit = stages.map(s => s.id -> s.submitted).toMap
    val tasksByStage = tasks.groupBy(_.stage)
    val n = math.max(samples.length, 1).toDouble
    val eagerLabels = scala.collection.mutable.Map.empty[String, Int]

    val perOp = samples.map { s =>
      val w = windows.find(_.id == s.id).get
      val js = byOp.getOrElse(s.id, Nil)
      val stIds = js.flatMap(_.stages).filter(stageSubmit.contains).distinct
      val ts = stIds.flatMap(id => tasksByStage.getOrElse(id, Nil))
      val q = qes.filter(x => x.start >= w.start && x.start <= w.end)
      Trace.eagerJobs(js, w).foreach { case (_, l) =>
        eagerLabels(l) = eagerLabels.getOrElse(l, 0) + 1 }
      val launch = stIds.map { id =>
        val first = tasksByStage.getOrElse(id, Nil).map(_.launch).minOption
        first.map(f => math.max(f - stageSubmit(id), 0L)).getOrElse(0L)
      }.sum.toDouble
      val catalyst = q.map(x => x.analysisMs + x.optimizationMs + x.planningMs)
        .sum.toDouble
      val busy = ts.map(t => (t.finish - t.launch).toDouble).sum
      val scans = q.map(x => x.cacheScans + x.fileScans).sum
      Map(
        "catalyst.analysis_ms" -> q.map(_.analysisMs).sum.toDouble,
        "catalyst.optimization_ms" -> q.map(_.optimizationMs).sum.toDouble,
        "catalyst.planning_ms" -> q.map(_.planningMs).sum.toDouble,
        "catalyst.executions" -> q.length.toDouble,
        "plan.exchanges" -> q.map(_.exchanges).sum.toDouble,
        "sched.jobs" -> js.length.toDouble,
        "sched.stages" -> stIds.length.toDouble,
        "sched.tasks" -> ts.length.toDouble,
        "sched.launch_delay_ms" -> launch,
        "sched.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "sched.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "sched.core_busy" -> busy / math.max(s.totalMs * slots, 1e-9),
        "sched.failed_tasks" -> ts.count(!_.ok).toDouble,
        "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
        "spill.bytes" -> ts.map(_.spill).sum.toDouble,
        "exec.peak_mem_bytes" -> ts.map(_.peakMem).maxOption.getOrElse(0L).toDouble,
        "scan.input_bytes" -> ts.map(_.input).sum.toDouble,
        "cache.scan_hit_frac" ->
          (if (scans == 0) 0.0 else q.map(_.cacheScans).sum.toDouble / scans),
        "blocks.retained_mb" -> s.retainedMb,
        "op.build_ms" -> s.buildMs, "op.action_ms" -> s.actionMs,
        "op.eager_jobs" -> js.count(_.start < w.actionStart).toDouble,
        "share.catalyst_sched" -> (catalyst + launch) / math.max(s.totalMs, 1e-9),
        "jvm.gc_ms" -> s.gcMs, "jvm.heap_used_mb" -> s.heapMb)
    }
    val opMeans = perOp.flatMap(_.keys).distinct
      .map(k => k -> mean(perOp.map(_(k)))).toMap

    val self = Trace.selfTimes(spans)
    val bySpan = spans.map(s => s -> self(s.id).toDouble / 1e6)
    val layerMs = layers.map(l => s"layer.$l.self_ms" ->
      bySpan.filter(_._1.layer == l).map(_._2).sum / n)
    val fnMs = functions.flatMap { f =>
      val calls = bySpan.filter(_._1.name == s"fn.$f").map(_._2)
      Seq(s"fn.$f.self_ms" -> mean(calls), s"fn.$f.calls" -> calls.length / n)
    }
    (opMeans ++ layerMs ++ fnMs +
      ("trace.unattributed_jobs" -> unattributed.length.toDouble),
     eagerLabels.toMap,
     unattributed.groupBy(j => Trace.innermostGraftFrame(j.callSite))
       .map { case (k, v) => k -> v.length })
  }
}
