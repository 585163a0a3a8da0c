package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Packing, SetSimJoin}
import graft.plans.Lineage

/** Full passes of one curation pipeline over a seeded corpus with planted
  * near-duplicate clusters: signatures, LSH candidates, exact verification,
  * connected components, survivors, an exact set-similarity join over the
  * survivors and token packing. One cycle is one pass.
  *
  * Checks: every emitted pair's exact token-set Jaccard (computed on the
  * driver) meets the threshold, planted-pair recall meets [[RecallFloor]],
  * components agree with the verified edges and packing matches an
  * exclusive running token sum over the survivors in id order.
  */
final class CorpusDedup(dir: String) extends Workload {
  val Threshold = 0.8
  val MaxBucket = 200
  val Budget = 2000L
  /** Planted pairs are one or two token substitutions apart. With 8 bands
    * of 8 rows, MinHash-LSH misses the pairs whose shingle similarity is
    * low (short documents), about 13% of them at these lengths, so the
    * floor sits below that with margin; a drop past it is a regression.
    */
  val RecallFloor = 0.8

  private var toks: Map[Long, Array[String]] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var docCount = 0L
  /** Per-pass candidate and verified pair counts. */
  val pairCounts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def setup(r: Runner): Unit = {
    val rows = r.spark.read.parquet(s"$dir/corpus.parquet").collect()
    toks = rows.map(x => x.getLong(0) -> CorpusDedup.tokens(x.getString(1)))
      .toMap
    docCount = rows.length
    val js = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/planted.json")), "UTF-8")
    planted = CorpusDedup.clusters(js, "clusters").flatMap { c =>
      for (i <- c.indices; j <- i + 1 until c.length) yield (c(i), c(j))
    }
  }

  private def jac(a: Long, b: Long): Double = CorpusDedup.jaccard(toks(a), toks(b))

  def cycle(r: Runner): Unit = {
    // read inside each operation: a parquet read can run a listing job
    def docs = r.spark.read.parquet(s"$dir/corpus.parquet")
    val sigs = r.op("pass", "signatures") {
      r.fn("Lineage", "cut", "plans")(Lineage.cut(
        r.fn("Dedup", "signatures", "operators")(
          Dedup.signatures(docs, "doc_id", "text", Dedup.DefaultShingleK, 64))))
    } { s => (s, s.count()) } { case (_, n) => n == docCount }.map(_._1)
    val cands = sigs.flatMap { s =>
      r.op("pass", "candidates") {
        r.fn("Lineage", "cut", "plans")(Lineage.cut(
          r.fn("Dedup", "lshCandidatePairsFromSigs", "operators")(
            Dedup.lshCandidatePairsFromSigs(s, 64, 8, MaxBucket))))
      } { c => (c, c.count()) } { case (_, n) => n > 0 }
    }
    val verified = cands.flatMap { case (c, nCand) =>
      r.op("pass", "verify") {
        val t = docs.select(col("doc_id"),
          array_distinct(r.fn("TextFunctions", "tokens", "functions")(
            TextFunctions.tokens(col("text")))).as("t"))
        c.join(t.select(col("doc_id").as("a"), col("t").as("ta")), "a")
          .join(t.select(col("doc_id").as("b"), col("t").as("tb")), "b")
          .select(col("a"), col("b"),
            r.fn("Dedup", "jaccardTokens", "operators")(
              Dedup.jaccardTokens(col("ta"), col("tb"))).as("j"))
          .filter(col("j") >= Threshold)
      } { v => v.select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1))) } {
        pairs =>
          pairCounts += ((nCand, pairs.length.toLong))
          val found = pairs.map { case (a, b) => (a min b, a max b) }.toSet
          val recall = planted.count(found.contains).toDouble / planted.length
          val bad = pairs.count { case (a, b) => jac(a, b) < Threshold }
          if (bad > 0 || recall < RecallFloor)
            System.err.println(f"[perfbench] verify: $bad pairs below the " +
              f"threshold, planted recall $recall%.4f")
          bad == 0 && recall >= RecallFloor
      }
    }
    val labels = verified.flatMap { pairs =>
      r.op("pass", "components") {
        val edges = r.spark.createDataFrame(
          r.spark.sparkContext.parallelize(pairs.toSeq, 4).map(Row.fromTuple),
          CorpusDedup.edgeSchema)
        r.fn("Dedup", "connectedComponents", "operators")(
          Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges))
      } { l => (l, l.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap) } {
        case (_, m) =>
          pairs.forall { case (a, b) => m.getOrElse(a, a) == m.getOrElse(b, b) } &&
            m.forall { case (id, l) => l <= id }
      }
    }
    val survivors = labels.flatMap { case (l, m) =>
      r.op("pass", "survivors") {
        val d = docs
        r.fn("Lineage", "cut", "plans")(Lineage.cut(
          d.join(l.filter(col("id") =!= col("label")).select(col("id")),
            d("doc_id") === col("id"), "left_anti")))
      } { s => (s, s.count()) } { case (_, n) =>
        n == docCount - m.count { case (id, l) => l != id }
      }.map(_._1)
    }
    survivors.foreach { s =>
      r.op("pass", "setsim") {
        r.fn("SetSimJoin", "jaccardPairs", "operators")(SetSimJoin.jaccardPairs(
          s.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks")),
          "doc_id", "toks", Threshold))
      } { p => p.collect().toSeq } { rows =>
        rows.forall(x => jac(x.getAs[Long](0), x.getAs[Long](1)) >= Threshold - 1e-9)
      }
      r.op("pass", "packing") {
        r.fn("Packing", "packByTokenBudget", "operators")(
          Packing.packByTokenBudget(s, Budget))
      } { p => p.select("doc_id", "pack_id").collect()
          .map(x => x.getLong(0) -> x.getLong(1)).sortBy(_._1) } { got =>
        var cum = 0L
        got.forall { case (id, pack) =>
          val ok = pack == cum / Budget
          cum += toks(id).length
          ok
        }
      }
    }
  }

  /** The cold pass only: a second warm-up pass does not fit a run's time
    * budget, so the measured pass is the first warm one.
    */
  override def maxWarmUpSteps: Int = 1

  def workPerSecond(s: Seq[OpSample]): Double = {
    // one pass = the operations of one cycle, which starts at signatures
    val passes = IngestMaintain.splitAt(s, "signatures").map(_.map(_.totalMs).sum)
    if (passes.isEmpty) 0.0 else docCount / (Stats.median(passes) / 1000.0)
  }

  override def layerMetrics(s: Seq[OpSample], spans: Seq[Span])
      : Map[String, Double] =
    if (pairCounts.isEmpty) Map.empty
    else {
      val c = pairCounts.map(_._1).sum.toDouble / pairCounts.length
      val v = pairCounts.map(_._2).sum.toDouble / pairCounts.length
      Map("dedup.candidate_pairs" -> c, "dedup.verified_pairs" -> v,
          "dedup.candidate_yield" -> (if (c > 0) v / c else 0.0))
    }
}

object CorpusDedup {
  val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.LongType)))

  /** The engine's whitespace tokenizer, on the driver. */
  def tokens(text: String): Array[String] =
    if (text == null) Array.empty else text.trim.split("\\s+").filter(_.nonEmpty)

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet
    val sb = b.toSet
    val u = (sa | sb).size
    if (u == 0) 0.0 else (sa & sb).size.toDouble / u
  }

  /** Integer-list clusters under `key` in the generator's planted.json. */
  def clusters(json: String, key: String): Seq[Seq[Long]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val f: Formats = DefaultFormats
    (parse(json) \ key).extract[Seq[Seq[Long]]]
  }
}
