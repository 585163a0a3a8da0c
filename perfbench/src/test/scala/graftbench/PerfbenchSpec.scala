package graftbench

import java.util.Properties

import org.apache.spark.scheduler.{SparkListenerJobStart, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest ladder percentile with ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    // p95 leaves exactly 10 of 200 beyond; p99 would leave 2
    assert(Stats.tail(xs) == Stats.Tail(95.0, 190.0, 200))
    assert(Stats.beyond(200, 95.0) == 10)
    assert(Stats.beyond(200, 99.0) == 2)
  }

  test("short samples fall back down the ladder, to the median") {
    assert(Stats.tail((1 to 40).map(_.toDouble)).percentile == 75.0)
    assert(Stats.tail((1 to 39).map(_.toDouble)).percentile == 65.0)
    assert(Stats.tail((1 to 32).map(_.toDouble)) == Stats.Tail(65.0, 21.0, 32))
    assert(Stats.tail((1 to 28).map(_.toDouble)).percentile == 50.0)
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(50.0, 2.0, 3))
    // the median, interpolated, never the lower middle sample
    assert(Stats.tail(Seq(4.0, 1.0, 3.0, 2.0)) == Stats.Tail(50.0, 2.5, 4))
  }

  test("median interpolates an even sample") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }
}

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, 0, s"s$id", "operators", start, end)

  test("self time subtracts direct children only") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 40),
      span(2, 0, 50, 60), span(3, 1, 15, 35))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 30 - 10)
    assert(self(1) == 30 - 20)
    assert(self(2) == 10)
    assert(self(3) == 20)
  }

  test("overlapping children are counted once and clipped to the parent") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 50),
      span(2, 0, 30, 70), span(3, 0, 90, 120))
    // covered: [10, 70) and [90, 100)
    assert(Trace.selfTimes(spans)(0) == 100 - 60 - 10)
  }

  test("store timings come from the spans of each store's public calls") {
    def ms(id: Int, op: Int, name: String, from: Long, to: Long) =
      Span(id, -1, op, name, "stores", from * 1000000L, to * 1000000L)
    val t = Layers.storeTimes(Seq(ms(0, 0, "fn.Bm25.appendDocs", 0, 30),
      ms(1, 1, "fn.Bm25.appendDocs", 40, 50),
      ms(2, 2, "fn.Bm25.queryIndex", 60, 65), ms(3, 2, "action", 65, 80),
      ms(4, 3, "action", 90, 99)))
    assert(t("store.bm25.append_ms") == 20.0)
    // a probe adds the action of its own operation and of no other
    assert(t("store.bm25.probe_ms") == 20.0)
    assert(t("store.sets.compact_ms") == 0.0)
    assert(t.keySet == Layers.storeCalls.map(_._1).toSet)
  }

  test("innermost engine frame names object and method") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.operators.StoreStamp$.distinctVals(StoreStamp.scala:30)",
      "graft.operators.Dedup$.loadSignatureStore(Dedup.scala:220)",
      "graftbench.IngestMaintain.batch(IngestMaintain.scala:5)").mkString("\n")
    assert(Trace.innermostGraftFrame(site) == "StoreStamp.distinctVals")
    val pool = "graft.operators.Bm25$.$anonfun$loadIndex$2(Bm25.scala:270)\n" +
      "java.lang.Thread.run(Thread.java:840)"
    assert(Trace.innermostGraftFrame(pool) == "Bm25.loadIndex")
    assert(Trace.innermostGraftFrame(
      "graft.operators.Bm25$.graft$operators$Bm25$$checkedRead(Bm25.scala:9)") ==
      "Bm25.checkedRead")
    assert(Trace.innermostGraftFrame(
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\njava.lang.Thread.run(T.java:1)") ==
      "spark:RDD.collect")
    assert(Trace.innermostGraftFrame("") == "unknown")
  }

  private def jobStart(id: Int, time: Long, site: String) = {
    val stage = new StageInfo(id, 0, s"stage$id", 1, Seq.empty, Seq.empty,
      site, resourceProfileId = 0)
    SparkListenerJobStart(id, time, Seq(stage), new Properties)
  }

  test("jobs are attributed by operation window; the rest are counted") {
    val rec = new Recorder
    rec.on = true
    val eng = "graft.operators.Dedup$.connectedComponents(Dedup.scala:1)"
    Seq(jobStart(0, 100, eng), jobStart(1, 150, "x"), jobStart(2, 205, eng),
      jobStart(3, 260, "x"), jobStart(4, 500, eng)).foreach(rec.onJobStart)
    val windows = Seq(Events.OpWindow(0, 90, 140, 200),
      Events.OpWindow(1, 200, 250, 300))
    val (jobs, _, _, _) = rec.snapshot
    val (byOp, outside) = Trace.attribute(jobs, windows)
    assert(byOp(0).map(_.id) == Seq(0, 1))
    assert(byOp(1).map(_.id) == Seq(2, 3))
    assert(outside.map(_.id) == Seq(4))
    // eager = started before the op's action, labelled by engine frame
    assert(Trace.eagerJobs(byOp(0), windows(0)).map(_._2) ==
      Seq("Dedup.connectedComponents"))
    assert(Trace.eagerJobs(byOp(1), windows(1)).map(_._1.id) == Seq(2))
  }

  test("unattributed jobs count only inside the measured interval") {
    val rec = new Recorder
    rec.on = true
    Seq(jobStart(0, 100, ""), jobStart(1, 210, ""), jobStart(2, 900, ""))
      .foreach(rec.onJobStart)
    def sample(id: Int, s: Long, a: Long, e: Long) =
      OpSample(id, "op", "x", (a - s).toDouble, (e - a).toDouble, true,
        s, a, e, 0, 0, 0)
    // one job sits in the gap between the two operations
    val samples = Seq(sample(0, 90, 95, 200), sample(1, 220, 230, 300))
    val (m, _, sites) = Layers.compute(samples, Nil, rec, 4)
    assert(m("trace.unattributed_jobs") == 1.0)
    assert(m("sched.jobs") == 0.5)
    assert(sites == Map("unknown" -> 1))
    val quiet = new Recorder
    quiet.on = true
    quiet.onJobStart(jobStart(0, 100, ""))
    assert(Layers.compute(samples, Nil, quiet, 4)._1("trace.unattributed_jobs") == 0.0)
  }
}

class IngestMaintainSpec extends AnyFunSuite {
  test("a latency per batch; the tail is the median of compacting batches") {
    var id = 0
    def op(name: String, ms: Double) = {
      id += 1
      OpSample(id, "write", name, ms, 0, true, 0, 0, 0, 0, 0, 0)
    }
    def batch(first: Double, compact: Boolean) =
      Seq(op("neardup_probe", first), op("bm25_append", 100)) ++
        (if (compact) Seq(op("compact", 500)) else Nil)
    val s = batch(900, false) ++ batch(1000, true) ++ batch(1100, false) ++
      batch(1200, true)
    val wl = new IngestMaintain("inputs", "work", 2)
    assert(wl.latencies(s) == Seq(1000.0, 1600.0, 1200.0, 1800.0))
    assert(wl.tail(s) == Stats.Tail(75.0, 1700.0, 2))
  }
}
