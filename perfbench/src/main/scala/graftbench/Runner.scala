package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One measured operation. Wall times are milliseconds; `start`,
  * `actionStart` and `end` are epoch milliseconds for event attribution.
  */
final case class OpSample(id: Int, kind: String, name: String,
                          buildMs: Double, actionMs: Double, ok: Boolean,
                          start: Long, actionStart: Long, end: Long,
                          retainedMb: Double, gcMs: Double, heapMb: Double) {
  def totalMs: Double = buildMs + actionMs
}

/** Runs operations for a workload: times the public calls (`build`) and
  * the benchmark's consuming action separately, checks the output, and
  * counts failures. Spans are recorded only while the tracer is on.
  */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  val samples = ArrayBuffer.empty[OpSample]
  /** [[Control]] loop times, one after each operation. */
  val controlMs = ArrayBuffer.empty[Double]
  /** Off during warm-up: operations run and are checked, not recorded. */
  var recording = false
  var attempted = 0
  var failed = 0
  private var nextOp = 0

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def heapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  private def retainedMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** A public engine call, traced as `fn.<obj>.<function>` in `layer`. */
  def fn[T](obj: String, function: String, layer: String)(body: => T): T =
    tracer.span(s"fn.$obj.$function", layer)(body)

  /** Time one operation. `build` makes the public calls, `action`
    * consumes their result, `check` validates it outside the timing.
    * A throw or a failed check counts as a failed operation and its
    * latency is not sampled.
    */
  def op[B, R](kind: String, name: String)(build: => B)(action: B => R)
              (check: R => Boolean): Option[R] = {
    val id = nextOp
    nextOp += 1
    tracer.op = id
    attempted += 1
    val gc0 = gcMs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var w1 = w0
    val result = try {
      val r = tracer.span(s"op.$kind", "bench") {
        val b = build
        t1 = System.nanoTime()
        w1 = System.currentTimeMillis()
        tracer.span("action", "spark")(action(b))
      }
      Right(r)
    } catch { case NonFatal(e) => Left(e) }
    val t2 = System.nanoTime()
    val w2 = System.currentTimeMillis()
    val ok = result match {
      case Right(r) =>
        try check(r) catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $kind/$name check threw: $e"); false }
      case Left(e) =>
        System.err.println(s"[perfbench] $kind/$name failed: $e")
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $kind/$name: output check failed")
    }
    controlMs += Control.ms()
    if (recording)
      samples += OpSample(id, kind, name, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        ok, w0, w1, w2, retainedMb, (gcMs - gc0).toDouble, heapMb)
    result.toOption
  }

  /** Checks that are not operations, run at once and then counted in
    * order.
    */
  def verifyAll(checks: Seq[(String, () => Boolean)]): Unit = {
    val results = Runner.parallel(checks.map { case (_, c) => () => Try(c()) })
    checks.zip(results).foreach { case ((name, _), res) => verify(name)(res.get) }
  }

  /** A check that is not an operation (an end-state comparison). */
  def verify(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] verify $name threw: $e"); false }
    if (!good) {
      failed += 1
      System.err.println(s"[perfbench] verify $name: failed")
    }
  }
}

object Runner {
  /** Runs unmeasured work (staging, end-state checks), each task on a
    * thread of its own, and waits for all of it; results are in task order.
    */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(tasks)(t => Future(t())), Duration.Inf)
    finally pool.shutdown()
  }
}

/** A benchmark workload: staged once, then run in closed-loop cycles. */
trait Workload {
  /** Generate nothing: read the generated inputs, stage state, cache. */
  def setup(r: Runner): Unit
  /** One closed-loop cycle: every kind of operation the workload has. */
  def cycle(r: Runner): Unit
  /** One warm-up step, repeated until step times converge. */
  def warmUpStep(r: Runner): Unit = cycle(r)
  /** Warm-up steps always run: driver-side code such as Catalyst's rules
    * keeps getting faster for several cycles after times first agree.
    */
  def minWarmUpSteps: Int = 1
  /** Warm-up steps a run's time budget allows. */
  def maxWarmUpSteps: Int = 4
  /** Measured cycles a run makes however short `--seconds` is. */
  def minMeasuredCycles: Int = 1
  /** The measured time comparable to one warm-up step, from the samples
    * of `cycles` cycles.
    */
  def stepMs(samples: Seq[OpSample], cycles: Int): Double =
    samples.map(_.totalMs).sum / cycles
  /** End-to-end latencies: by default one per operation that passed its
    * check.
    */
  def latencies(samples: Seq[OpSample]): Seq[Double] =
    samples.filter(_.ok).map(_.totalMs)
  /** The tail of the end-to-end latencies, by the ladder rule of [[Stats]]. */
  def tail(samples: Seq[OpSample]): Stats.Tail = Stats.tail(latencies(samples))
  /** The workload's unit of work per second over the recorded samples. */
  def workPerSecond(samples: Seq[OpSample]): Double
  /** Checks after the measured cycles (end-state comparisons). */
  def finish(r: Runner): Unit = ()
  /** Workload-specific per-layer numbers of the traced samples and their
    * spans, keyed by metric name.
    */
  def layerMetrics(samples: Seq[OpSample], spans: Seq[Span])
      : Map[String, Double] = Map.empty
}
