package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary the benchmark calls. Times are
  * `System.nanoTime` values; `parent` is -1 for an operation's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records spans in memory for the traced run; a disabled tracer runs the
  * body and records nothing.
  */
final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Long)] = Nil
  private var nextId = 0
  var op: Int = -1

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, layer, System.nanoTime()) :: stack
      try body
      finally {
        val (_, n, l, t0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, parent, op, n, l, t0, System.nanoTime())
      }
    }
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** `Object.method` of one stack frame, with Scala's name mangling
    * (`$anonfun$m$1`, `pkg$Obj$$m`) undone.
    */
  private def frameName(frame: String): String = {
    val qualified = frame.takeWhile(_ != '(')
    val dot = qualified.lastIndexOf('.')
    if (dot < 0) qualified
    else {
      val owner = qualified.substring(0, dot).split('.').last.takeWhile(_ != '$')
      val raw = qualified.substring(dot + 1)
      val unmangled = raw.substring(raw.lastIndexOf("$$") match {
        case -1 => 0
        case i => i + 2
      })
      val method =
        if (unmangled.startsWith("$anonfun$"))
          unmangled.stripPrefix("$anonfun$").takeWhile(_ != '$')
        else unmangled.takeWhile(_ != '$')
      s"$owner.$method"
    }
  }

  /** Innermost engine frame (a `graft.` class that is not the benchmark)
    * on a Spark long-form call site, as `Object.method`. A stack without
    * one (a job Spark submits from its own thread pool, such as a
    * broadcast) is labelled `spark:` and its first frame, or "unknown".
    */
  def innermostGraftFrame(callSite: String): String = {
    val frames = callSite.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    frames.find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .map(frameName)
      .orElse(frames.headOption.map(f => "spark:" + frameName(f)))
      .getOrElse("unknown")
  }

  /** Assign each job to the operation whose time window holds the job's
    * start. Jobs outside every window are returned as unattributed. Job
    * groups are not used: jobs launched from an operator's own thread
    * pool do not inherit the caller's group.
    */
  def attribute(jobs: Seq[Events.Job], ops: Seq[Events.OpWindow])
      : (Map[Int, Seq[Events.Job]], Seq[Events.Job]) = {
    val sorted = ops.sortBy(_.start).toIndexedSeq
    def owner(t: Long): Option[Int] = {
      // last window starting at or before t
      var lo = 0
      var hi = sorted.length - 1
      var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid).start <= t) { found = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      if (found >= 0 && t <= sorted(found).end) Some(sorted(found).id)
      else None
    }
    val tagged = jobs.map(j => owner(j.start) -> j)
    (tagged.collect { case (Some(op), j) => op -> j }
       .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
     tagged.collect { case (None, j) => j })
  }

  /** Jobs of one operation launched before its consuming action began:
    * work the public calls did eagerly, labelled by engine frame.
    */
  def eagerJobs(jobs: Seq[Events.Job], op: Events.OpWindow)
      : Seq[(Events.Job, String)] =
    jobs.filter(_.start < op.actionStart)
      .map(j => j -> innermostGraftFrame(j.callSite))
}
