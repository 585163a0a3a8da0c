package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Dashboard
import graft.queries.GraftQuery
import graft.sources.EvCsvSource

/** Registered SQL-surface queries and dashboard interactions, interleaved
  * in a seeded closed-loop order. Each cycle runs every query once and
  * [[DashOps]] dashboard interactions over one frame cached at set-up.
  *
  * Query results are checked against DuckDB oracle hashes; dashboard
  * results against a computation over the cached rows on the driver.
  */
final class Analytics(dir: String, seed: Long,
                      expected: Map[String, (String, Int)]) extends Workload {
  private val DashOps = 2
  private val rng = new Random(seed)
  private var dash: DataFrame = _
  private var dashRows: Array[Row] = Array.empty
  private var makes: Seq[String] = Nil
  private var cities: Seq[String] = Nil

  val queries: Seq[GraftQuery] = Analytics.selected

  def setup(r: Runner): Unit = {
    dash = Dashboard.cached(
      EvCsvSource.readClean(r.spark, s"$dir/ev_dashboard.csv")
        .select("vin", "city", "make", "year", "electric_range"))
    dashRows = dash.collect()
    makes = dashRows.flatMap(x => Option(x.getString(2))).distinct.sorted.toSeq
    cities = dashRows.flatMap(x => Option(x.getString(1))).distinct.sorted.toSeq
  }

  def cycle(r: Runner): Unit = {
    val steps: Seq[Either[GraftQuery, Int]] =
      queries.map(Left(_)) ++ (0 until DashOps).map(Right(_))
    rng.shuffle(steps).foreach {
      case Left(q) => query(r, q)
      case Right(_) => interaction(r)
    }
  }

  private def query(r: Runner, q: GraftQuery): Unit =
    r.op("query", q.name)(r.fn("GraftQuery", "fn", "queries")(
        q.fn(r.spark, dir))) { df =>
      (df.schema, df.collect().toSeq)
    } { case (schema, rows) =>
      val (sha, n) = expected(q.name)
      rows.length == n && Canon.sha256(Canon.lines(schema, rows)) == sha
    }

  private def pick(domain: Seq[String]): Seq[String] =
    if (rng.nextDouble() < 0.3) Nil
    else rng.shuffle(domain).take(1 + rng.nextInt(4)).sorted

  /** One dashboard interaction: selections, the KPI row, two chart feeds. */
  private def interaction(r: Runner): Unit = {
    val sel = Map("make" -> pick(makes), "city" -> pick(cities))
    r.op("dashboard", "interaction") {
      val filtered = r.fn("Dashboard", "applySelections", "operators")(
        Dashboard.applySelections(dash, sel))
      (r.fn("Dashboard", "kpis", "operators")(
         Dashboard.kpis(filtered, "vin", Seq("electric_range", "year"))),
       r.fn("Dashboard", "groupedCounts", "operators")(
         Dashboard.groupedCounts(filtered, "make")),
       r.fn("Dashboard", "groupedCounts", "operators")(
         Dashboard.groupedCounts(filtered, "city", topK = 10)))
    } { case (k, m, c) => (k.collect().head, m.collect().toSeq, c.collect().toSeq) }
    { case (k, m, c) => Analytics.checkDashboard(dashRows, sel, k, m, c) }
  }

  /** The cold cycle and one warm one: Catalyst's driver-side code keeps
    * getting faster for a few cycles more, but a third warm-up cycle does
    * not fit a run's time budget.
    */
  override def minWarmUpSteps: Int = 2
  override def maxWarmUpSteps: Int = 2
  /** Four cycles are 32 operations, the fewest that put the tail at p65. */
  override def minMeasuredCycles: Int = 4

  def workPerSecond(s: Seq[OpSample]): Double =
    s.length / (s.map(_.totalMs).sum / 1000.0)
}

object Analytics {
  /** The benchmarked subset of the oracle-carrying SQL-surface queries
    * (Relational, AnalyticsExt, AggExt, JoinExt and Warehouse suites).
    * One or two per suite. A run must warm every query up and still
    * measure each several times within the benchmark's time budget, and
    * every distinct query costs about a second cold, so the list is
    * short. The percentile and approximate-sketch queries take seconds
    * each at sf0.1 and are left out.
    */
  val names: Seq[String] = Seq(
    "q_count_by_brand", "q_union", "q_monthly_revenue", "q_grouping_sets",
    "q_semi_join", "q_revenue_share")

  def selected: Seq[GraftQuery] = {
    val suites = Seq(graft.queries.RelationalSuite,
      graft.queries.AnalyticsExtSuite, graft.queries.AggExtSuite,
      graft.queries.JoinExtSuite, graft.queries.WarehouseSuite)
    val all = suites.flatMap(_.queries).map(q => q.name -> q).toMap
    names.map(all)
  }

  private def round1(x: Double): Double =
    BigDecimal(x).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def counts(rows: Seq[Row], i: Int): Seq[(String, Long)] =
    rows.groupBy(r => Option(r.getString(i)).orNull).toSeq
      .map { case (k, v) => (k, v.length.toLong) }
      .sortBy { case (k, n) => (-n, Option(k).getOrElse("")) }

  /** The KPI row and chart feeds computed directly over the cached rows
    * (columns vin, city, make, year, electric_range).
    */
  def checkDashboard(all: Array[Row], sel: Map[String, Seq[String]],
                     kpi: Row, makes: Seq[Row], cities: Seq[Row]): Boolean = {
    def keep(r: Row): Boolean =
      (sel("make").isEmpty || sel("make").contains(r.getString(2))) &&
      (sel("city").isEmpty || sel("city").contains(r.getString(1)))
    val rows = all.filter(keep).toSeq
    def avg(i: Int): Option[Double] = {
      val xs = rows.filter(!_.isNullAt(i)).map(_.getInt(i).toDouble)
      if (xs.isEmpty) None else Some(round1(xs.sum / xs.length))
    }
    def close(got: Any, want: Option[Double]): Boolean = (got, want) match {
      case (null, None) => true
      case (g: Double, Some(w)) => math.abs(g - w) <= 0.05 + 1e-9
      case _ => false
    }
    def feed(got: Seq[Row], want: Seq[(String, Long)]): Boolean =
      got.map(r => (Option(r.getString(0)).orNull, r.getLong(1))) == want
    kpi.getLong(0) == rows.length &&
      close(kpi.get(1), avg(4)) && close(kpi.get(2), avg(3)) &&
      feed(makes, counts(rows, 2)) && feed(cities, counts(rows, 1).take(10))
  }
}
