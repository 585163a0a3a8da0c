package graftbench

/** A fixed single-threaded CPU loop that gauges how fast the host runs
  * right now. Runs interleave it with their operations, outside their
  * timing, and restate the measured latencies and throughput on a
  * reference host where the loop takes [[ReferenceMs]]: on a shared host,
  * whole runs differ in speed by up to a quarter, and the engine's times
  * move with the loop's.
  */
object Control {
  /** The loop's median time on the 4-vCPU host the bounds were set on. */
  val ReferenceMs = 12.0

  private val data = Array.tabulate(1 << 16)(i => i * 2654435761L)
  @volatile private var sink = 0L

  /** Wall ms of one loop: dependent reads over a 512 KiB array. */
  def ms(): Double = {
    val t = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 1500000) {
      h = h * 31 + data(((h ^ i) & 0xffff).toInt)
      i += 1
    }
    sink = h
    (System.nanoTime() - t) / 1e6
  }

  /** Factor that restates a time measured while the loop took `controlMs`
    * on the reference host.
    */
  def toReference(controlMs: Double): Double = ReferenceMs / controlMs
}
