package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.Upsert
import graft.functions.TextFunctions
import graft.operators.{Bm25, Dedup, SetSimJoin}
import graft.sources.{EvCsvSource, Sinks}

/** Serial batch maintenance of four stores (the reference's per-blob
  * loop): each batch is a ragged EV CSV and a document batch that
  * near-duplicates stored documents. One cycle is one round of
  * [[Batches]] batches on stores restored from the set-up snapshot, so
  * every round ends at the same store size.
  *
  * Per batch: the near-duplicate and set-similarity probes of the batch
  * against the stores (reads), the EV upsert and the three store appends
  * (writes), compaction every [[CompactEvery]]-th batch, then a BM25 query
  * on a freshly loaded index (read). After the last round every store is
  * compared with a one-shot rebuild from the union of all batches.
  */
final class IngestMaintain(dir: String, work: String, batches: Int)
    extends Workload {
  val CompactEvery = 2
  val Threshold = 0.8
  /** The near-duplicate probe is banded MinHash-LSH, as in corpus_dedup. */
  val RecallFloor = 0.8

  private val staged = s"$work/staged"
  private val live = s"$work/live"
  private val rebuilt = s"$work/rebuild"
  /** The EV rows a one-shot rebuild from every batch keeps. */
  private var evLatest: Seq[String] = Nil
  private var evVersion = 0
  private var docTokens: Map[Long, Array[String]] = Map.empty
  private var planted: Map[Long, Long] = Map.empty
  private val found = mutable.Set.empty[(Long, Long)]
  private var inputBytes = 0L
  private var inputRows = 0L

  private val written = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Per batch: EV rows in the CSV and rows the clean pipeline keeps. */
  private val etl = mutable.ArrayBuffer.empty[(Long, Long)]
  private var batchIds: Seq[Seq[Long]] = Nil
  private var probes: Seq[Seq[(Long, String)]] = Nil

  private def path(store: String) = s"$live/$store"
  private def evPath = s"${path("ev")}/v$evVersion"

  private def docsOf(r: Runner, file: String): DataFrame =
    r.spark.read.parquet(s"$dir/$file")

  private def withToks(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))

  def setup(r: Runner): Unit = {
    val inputs = Files.list(Paths.get(dir)).iterator().asScala.toSeq
    inputBytes = inputs.map(Files.size).sum
    val files = "store_docs.parquet" +: (0 until batches)
      .map(b => s"docs_batch_$b.parquet")
    val store = docsOf(r, "store_docs.parquet")
    val union = files.map(docsOf(r, _)).reduce(_ union _)
    // staging is not measured: the independent stores, the one-shot
    // rebuild from every batch that the end state is compared with and the
    // driver-side copies of the inputs are made at once, slowest first
    Runner.parallel(Seq(
      () => Bm25.saveIndex(union, s"$rebuilt/bm25"),
      () => Bm25.saveIndex(store, s"$staged/bm25"),
      () => {
        val perFile = files.map(f => docsOf(r, f).collect())
        docTokens = perFile.flatten
          .map(x => x.getLong(0) -> CorpusDedup.tokens(x.getString(1))).toMap
        batchIds = perFile.tail.map(_.map(_.getLong(0)).sorted.toSeq)
      },
      () => evLatest = rows(latestEv(r)),
      () => SetSimJoin.saveSets(withToks(union), "doc_id", "toks", s"$rebuilt/sets"),
      () => Dedup.saveSignatureStore(union, "doc_id", "text", s"$rebuilt/sigs"),
      () => SetSimJoin.saveSets(withToks(store), "doc_id", "toks", s"$staged/sets"),
      () => Dedup.saveSignatureStore(store, "doc_id", "text", s"$staged/sigs"),
      () => Sinks.writeSnapshot(store, s"$staged/docs"),
      () => Sinks.writeSnapshot(EvCsvSource.readClean(r.spark,
        s"$dir/ev_base.csv"), s"$staged/ev/v0"),
      () => etl ++= (0 until batches).map { b =>
        val csv = s"$dir/ev_batch_$b.csv"
        (Files.readAllLines(Paths.get(csv)).size.toLong,
         EvCsvSource.readClean(r.spark, csv).count())
      }))
    probes = batchIds.map(_.take(4).map(id => id ->
      docTokens(id).take(8).mkString(" ")))
    val js = new String(Files.readAllBytes(Paths.get(s"$dir/planted.json")), "UTF-8")
    planted = CorpusDedup.clusters(js, "pairs").map(p => p(0) -> p(1)).toMap
    inputRows = (0 until batches).map(b => etl(b)._1 + batchIds(b).length).sum
  }

  /** Restore the live stores from the set-up snapshot. */
  private def restore(): Unit = {
    IngestMaintain.delete(Paths.get(live))
    IngestMaintain.copy(Paths.get(staged), Paths.get(live))
    evVersion = 0
  }

  def cycle(r: Runner): Unit = {
    restore()
    (0 until batches).foreach(b => batch(r, b, (b + 1) % CompactEvery == 0))
  }

  /** One batch with compaction: every operation kind, at a round's cost
    * divided by the batch count.
    */
  override def warmUpStep(r: Runner): Unit = {
    restore()
    batch(r, 0, compact = true)
  }

  /** One step. Staging has already run most of the engine's code paths
    * once, and a second step does not fit a run's time budget;
    * `warmup_converged` in the result compares the step with the measured
    * batches that compact.
    */
  override def maxWarmUpSteps: Int = 1

  override def stepMs(s: Seq[OpSample], cycles: Int): Double =
    Stats.median(compacting(s))

  /** Wall ms of each batch, reads and writes together; a batch starts at
    * its first probe.
    */
  private def batchMs(s: Seq[OpSample]): Seq[Double] =
    IngestMaintain.splitAt(s, "neardup_probe").map(_.map(_.totalMs).sum)

  private def compacting(s: Seq[OpSample]): Seq[Double] =
    IngestMaintain.splitAt(s, "neardup_probe")
      .filter(_.exists(_.name == "compact")).map(_.map(_.totalMs).sum)

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] = {
    val longs = df.schema.fields.zipWithIndex
      .filter(_._1.dataType == org.apache.spark.sql.types.LongType).map(_._2)
    df.collect().toSeq.map(x => (x.getLong(longs(0)), x.getLong(longs(1))))
  }

  private def validPairs(ps: Seq[(Long, Long)]): Boolean =
    ps.forall { case (a, b) =>
      CorpusDedup.jaccard(docTokens(a), docTokens(b)) >= Threshold - 1e-9
    }

  private def batch(r: Runner, b: Int, compact: Boolean): Unit = {
    // read inside each operation: a parquet read can run a listing job
    def docs = docsOf(r, s"docs_batch_$b.parquet")
    r.op("read", "neardup_probe") {
      r.fn("Dedup", "incrementalNearDupFromStore", "stores")(
        Dedup.incrementalNearDupFromStore(r.spark, path("sigs"), docs,
          r.spark.read.parquet(path("docs")), minJaccard = Threshold))
    } { p => pairsOf(p) } { ps =>
      found ++= ps.map { case (a, b) => (a max b, a min b) }
      validPairs(ps)
    }
    r.op("read", "setsim_probe") {
      r.fn("SetSimJoin", "incrementalJaccardPairs", "stores")(
        SetSimJoin.incrementalJaccardPairs(r.spark, path("sets"), withToks(docs),
          "doc_id", "toks", Threshold))
    } { p => pairsOf(p) } { ps =>
      val got = ps.map { case (a, b) => (a max b, a min b) }.toSet
      // an exact join misses no planted pair of this batch
      val ids = batchIds(b).toSet
      validPairs(ps) && planted.filter { case (n, _) => ids.contains(n) }
        .forall(p => got.contains((p._1 max p._2, p._1 min p._2)))
    }
    r.op("write", "ev_upsert") {
      val raw = r.fn("EvCsvSource", "readClean", "sources")(
        EvCsvSource.readClean(r.spark, s"$dir/ev_batch_$b.csv"))
      val base = r.spark.read.parquet(evPath)
      (raw, r.fn("Upsert", "upsertByVin", "etl")(Upsert.upsertByVin(base, raw)))
    } { case (raw, merged) =>
      val prev = evPath
      evVersion += 1
      r.fn("Sinks", "writeSnapshot", "sources")(
        Sinks.writeSnapshot(merged, evPath))
      IngestMaintain.delete(Paths.get(prev))
    } { _ => true }
    // the snapshot is rewritten whole
    written.getOrElseUpdate("ev", mutable.ArrayBuffer.empty) +=
      IngestMaintain.bytes(Paths.get(evPath)).toDouble
    appendOp(r, "bm25")(r.fn("Bm25", "appendDocs", "stores")(
      Bm25.appendDocs(r.spark, path("bm25"), docs)))
    appendOp(r, "sets")(r.fn("SetSimJoin", "appendSets", "stores")(
      SetSimJoin.appendSets(r.spark, path("sets"), withToks(docs), "doc_id", "toks")))
    appendOp(r, "sigs") {
      r.fn("Sinks", "appendBatch", "sources")(Sinks.appendBatch(docs, path("docs")))
      r.fn("Dedup", "appendSignatureStore", "stores")(
        Dedup.appendSignatureStore(r.spark, path("sigs"), docs, "doc_id", "text"))
    }
    if (compact)
      r.op("write", "compact") {
        r.fn("Bm25", "compactIndex", "stores")(
          Bm25.compactIndex(r.spark, path("bm25")))
        r.fn("SetSimJoin", "compactSets", "stores")(
          SetSimJoin.compactSets(r.spark, path("sets")))
        r.fn("Dedup", "compactSignatureStore", "stores")(
          Dedup.compactSignatureStore(r.spark, path("sigs")))
      } { _ => () } { _ => true }
    // a query made of a fresh document's own tokens must rank it top-10
    val probe = probes(b)
    r.op("read", "bm25_query") {
      val idx = r.fn("Bm25", "loadIndex", "stores")(
        Bm25.loadIndex(r.spark, path("bm25")))
      val q = r.spark.createDataFrame(probe.toSeq.zipWithIndex.map {
        case ((_, t), i) => (i.toLong, t) }).toDF("query_id", "query_text")
      r.fn("Bm25", "queryIndex", "stores")(Bm25.queryIndex(idx, q, 10))
    } { res =>
      res.select("query_id", "doc_id").collect().map(x => (x.getLong(0), x.getLong(1)))
    } { hits =>
      probe.zipWithIndex.forall { case ((id, _), i) => hits.contains((i.toLong, id)) }
    }
  }

  private def appendOp(r: Runner, store: String)(call: => Unit): Unit = {
    val before = IngestMaintain.bytes(Paths.get(path(store)))
    // the public call does the whole write: it is all build, no action
    r.op("write", s"${store}_append")(call) { _ => () } { _ => true }
    written.getOrElseUpdate(store, mutable.ArrayBuffer.empty) +=
      (IngestMaintain.bytes(Paths.get(path(store))) - before).toDouble
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => Canon.value(IngestMaintain.sortArrays(r)))
      .sorted

  /** The latest row per VIN over the base CSV and every batch. */
  private def latestEv(r: Runner): DataFrame = {
    val tagged = (EvCsvSource.readClean(r.spark, s"$dir/ev_base.csv")
      .withColumn("__b", lit(0)) +: (0 until batches).map { b =>
        EvCsvSource.readClean(r.spark, s"$dir/ev_batch_$b.csv")
          .withColumn("__b", lit(b + 1)) }).reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vin")
    tagged.withColumn("__m", max("__b").over(w))
      .filter(col("__b") === col("__m")).drop("__b", "__m").distinct()
  }

  override def finish(r: Runner): Unit = {
    // end-state checks are not measured: they run at once
    r.verifyAll(Seq(
      "ev_end_state" -> { () => rows(r.spark.read.parquet(evPath)) == evLatest },
      "bm25_end_state" -> { () =>
        val a = Bm25.loadIndex(r.spark, path("bm25"))
        val b = Bm25.loadIndex(r.spark, s"$rebuilt/bm25")
        rows(a.postings) == rows(b.postings) && rows(a.dfreq) == rows(b.dfreq) &&
          IngestMaintain.close(a.stats.collect().head, b.stats.collect().head)
      },
      "sets_end_state" -> { () =>
        rows(SetSimJoin.loadSets(r.spark, path("sets"))) ==
          rows(SetSimJoin.loadSets(r.spark, s"$rebuilt/sets"))
      },
      "sigs_end_state" -> { () =>
        rows(Dedup.loadSignatureStore(r.spark, path("sigs")).sigs) ==
          rows(Dedup.loadSignatureStore(r.spark, s"$rebuilt/sigs").sigs)
      },
      "neardup_recall" -> { () =>
        val n = planted.count { case (a, b) => found.contains((a max b, a min b)) }
        n.toDouble / planted.size >= RecallFloor
      }))
  }

  /** One latency per batch, its reads and writes together. The steps of a
    * batch fall into clusters with gaps between them (small writes near
    * 0.6 s, the BM25 query near 0.9 s, compaction and probes at 1.4-2.2 s),
    * and a median over the steps of one round sits in such a gap and jumps
    * between runs. Per-step read and write figures are in the result's
    * `by_kind`.
    */
  override def latencies(s: Seq[OpSample]): Seq[Double] = batchMs(s)

  /** The tail is the median of the batches that compact. A run measures
    * one round, too few batches for the ladder rule of [[Stats]]; every
    * [[CompactEvery]]-th batch compacts, which makes it the slowest of
    * its round, so these batches are the slowest 1/CompactEvery of all
    * and their median sits at the percentile reported.
    */
  override def tail(s: Seq[OpSample]): Stats.Tail = {
    val ms = compacting(s)
    Stats.Tail(100.0 * (1 - 0.5 / CompactEvery), Stats.median(ms), ms.length)
  }

  def workPerSecond(s: Seq[OpSample]): Double = {
    val perBatch = batchMs(s)
    if (perBatch.isEmpty) 0.0
    else inputRows.toDouble / batches / (Stats.median(perBatch) / 1000.0)
  }

  override def layerMetrics(s: Seq[OpSample], spans: Seq[Span])
      : Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val stores = Layers.stores
    val sizes = stores.flatMap { st =>
      val p = Paths.get(path(st))
      Seq(s"store.$st.bytes" -> IngestMaintain.bytes(p).toDouble,
          s"store.$st.files" -> IngestMaintain.files(p).toDouble,
          s"store.$st.bytes_written" -> mean(written.getOrElse(st, Nil).toSeq))
    }
    val total = (stores :+ "docs").map(st => IngestMaintain.bytes(Paths.get(path(st)))).sum
    Layers.storeTimes(spans) ++ sizes.toMap ++ Map(
      "store.space_amp" -> total.toDouble / inputBytes,
      "etl.rows_in" -> mean(etl.map(_._1.toDouble).toSeq),
      "etl.rows_kept" -> mean(etl.map(_._2.toDouble).toSeq))
  }
}

object IngestMaintain {
  def splitAt(s: Seq[OpSample], first: String): Seq[Seq[OpSample]] =
    s.foldLeft(List.empty[List[OpSample]]) { (acc, x) =>
      if (x.name == first || acc.isEmpty) List(x) :: acc
      else (x :: acc.head) :: acc.tail
    }.reverse.map(_.reverse)

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  def bytes(p: Path): Long = walk(p).map(Files.size).sum
  def files(p: Path): Long = walk(p).count(f =>
    !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_"))

  def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  def copy(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }

  /** Array columns sorted, so stores that order set elements by document
    * frequency at write time compare equal to a rebuild as sets.
    */
  def sortArrays(r: Row): Row = Row.fromSeq(r.toSeq.map {
    case s: scala.collection.Seq[_] => s.map(Canon.value).sorted
    case other => other
  })

  /** Row equality with doubles compared to 1e-9 relative. */
  def close(a: Row, b: Row): Boolean =
    a.length == b.length && a.toSeq.zip(b.toSeq).forall {
      case (x: Double, y: Double) =>
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case (x, y) => x == y
    }
}
