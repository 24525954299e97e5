package graft.serve

import graft.SparkSpec
import graft.bench.DataGen
import graft.ingest.{BBox, GridSink, LayoutPlanner}
import graft.model.SeriesSpec
import graft.plans.ServingPlans
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.Bridge

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.util.Random

/** The serving planning ([[ServingPlans]]): the same rows with the
  * strategy on and off for every route class, the same filters pushed to
  * the parquet scan, and no Janino compile for a fresh key of a route
  * shape already served.
  */
class ServingPlansSpec extends SparkSpec with AdaptiveSparkPlanHelper
    with org.scalatest.BeforeAndAfterAll {

  private val spec = SeriesSpec("ts", Seq("lat", "lon"), "temperature")
  private lazy val store: DataFrame = {
    val path = tmpDir() + "/grid.parquet"
    val raw = DataGen.sampleGrid(spark, days = 240)
    GridSink.writeGrid(raw, path, LayoutPlanner.plan(raw.schema,
      LayoutPlanner.Timeseries, Seq("lat", "lon"), "ts"))
    GridSink.openStore(spark, path)
  }
  private val Dataset = "grid"

  /** One request of a route class: its HTTP path and the DataFrame the
    * server computes for it, with the server's row cap.
    */
  private final class Key(val cls: String, lat: Double, lon: Double,
                          range: Option[(String, String)], bbox: Option[BBox]) {
    private def rangeQ = range.fold("") { case (s, e) => s"&start_date=$s&end_date=$e" }
    private def bboxQ = bbox.fold("") { b =>
      s"&min_lon=${b.west}&min_lat=${b.south}&max_lon=${b.east}&max_lat=${b.north}" }
    private def pointQ = s"lat=$lat&lon=$lon"
    def path: String = {
      val ds = s"/api/v1/data/datasets/$Dataset"
      val mt = "/api/v1/metrics"
      cls match {
        case "point" | "point_range" => s"$ds/point?$pointQ$rangeQ"
        case "region" | "region_am" => s"$ds/region?${bboxQ.drop(1)}"
        case "stats" | "stats_range" => s"$ds/stats?${bboxQ.drop(1)}$rangeQ"
        case "monthly" | "climatology" => s"$mt/temporal/$Dataset?metric=$cls&$pointQ"
        case "percentiles" => s"$mt/percentiles/$Dataset?$pointQ"
        case "trend" => s"$mt/trend/$Dataset?$pointQ"
        case "trend_significance" => s"$mt/trend/$Dataset?significance=true&$pointQ"
        case "anomaly" => s"$mt/anomaly/$Dataset?$pointQ"
      }
    }
    def frame: (DataFrame, Int) = cls match {
      case "point" | "point_range" =>
        (Api.pointSeries(store, spec, lat, lon, range), Api.MaxTimeSteps)
      case "region" | "region_am" =>
        (Api.regionData(store, spec, bbox.get), Api.MaxPointsPerRequest)
      case "stats" | "stats_range" =>
        (Api.regionStats(store, spec, bbox.get, range), Api.MaxPointsPerRequest)
      case metric =>
        val req = Routes.MetricRequest(Dataset, metric, Some(lat), Some(lon))
        (Routes.metricRoute(spark, Map(Dataset -> (store, spec)), req)
          .fold(e => fail(e.message), identity), Api.MaxPointsPerRequest)
    }
  }

  /** The ten route classes plus the two further shapes the checks cover:
    * a region across the antimeridian and bbox stats over a time range.
    */
  private val Classes = Seq("point", "point_range", "region", "region_am", "stats",
    "stats_range", "monthly", "climatology", "percentiles", "trend",
    "trend_significance", "anomaly")

  private def freshKey(cls: String, rnd: Random): Key = {
    def lat = -80.0 + rnd.nextDouble() * 160.0
    def lon = -170.0 + rnd.nextDouble() * 340.0
    def range = {
      val a = java.time.LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(150).toLong)
      Some((a.toString, a.plusDays(20L + rnd.nextInt(60)).toString))
    }
    // boxes of one to four cells, edges off the 10° lattice
    def box(west: Double) = {
      val s = -85.0 + rnd.nextDouble() * 150.0
      BBox(west, s, west + 10.5 + rnd.nextDouble() * 5, s + 10.5 + rnd.nextDouble() * 5)
    }
    cls match {
      case "point_range" => new Key(cls, lat, lon, range, None)
      case "region" | "stats" => new Key(cls, 0, 0, None, Some(box(-170.0 + rnd.nextDouble() * 300)))
      case "stats_range" => new Key(cls, 0, 0, range, Some(box(-170.0 + rnd.nextDouble() * 300)))
      case "region_am" =>
        val b = box(0)
        new Key(cls, 0, 0, None, Some(b.copy(west = 165.0 + rnd.nextDouble() * 10,
          east = -175.0 + rnd.nextDouble() * 10)))
      case _ => new Key(cls, lat, lon, None, None)
    }
  }

  // Server.start installs the serving strategy on the session, which
  // the suites of this JVM share: the suites after this one plan without it
  private var strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] = Nil

  override def beforeAll(): Unit = {
    super.beforeAll()
    strategies = spark.experimental.extraStrategies
  }

  override def afterAll(): Unit = {
    spark.experimental.extraStrategies = strategies
    super.afterAll()
  }

  /** Run `f` with the serving strategy installed (`on`) or removed. */
  private def planned[A](on: Boolean)(f: => A): A = {
    val em = spark.experimental
    val saved = em.extraStrategies
    val others = saved.filterNot(_ == ServingPlans.ServingStrategy)
    em.extraStrategies = if (on) others :+ ServingPlans.ServingStrategy else others
    try f finally em.extraStrategies = saved
  }

  /** The served rows as the server renders them, in order. */
  private def rows(k: Key): Seq[String] = {
    val (df, cap) = k.frame
    Bridge.jsonRows(df.limit(cap)).collect().toSeq
  }

  private def sameRows(k: Key): Unit = {
    val off = planned(on = false)(rows(k))
    val on = planned(on = true)(rows(k))
    assert(off.nonEmpty, s"${k.cls}: no rows at ${k.path}")
    // point series are ordered; the other routes' order is not defined
    if (k.cls.startsWith("point")) assert(on == off, k.path)
    else assert(on.sorted == off.sorted, k.path)
  }

  test("rows are bit-identical with the strategy on and off, for every route class") {
    val rnd = new Random(7)
    for (cls <- Classes; _ <- 1 to 2) sameRows(freshKey(cls, rnd))
  }

  test("rows are bit-identical with whole-stage codegen off") {
    val rnd = new Random(8)
    val key = "spark.sql.codegen.wholeStage"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try for (cls <- Classes) sameRows(freshKey(cls, rnd))
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def pushedFilters(k: Key): Seq[String] = {
    val (df, cap) = k.frame
    val capped = df.limit(cap)
    capped.collect()
    collectWithSubqueries(capped.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    }.sorted
  }

  test("the filters pushed to the parquet scan do not change") {
    val rnd = new Random(9)
    for (cls <- Classes) {
      val k = freshKey(cls, rnd)
      val off = planned(on = false)(pushedFilters(k))
      val on = planned(on = true)(pushedFilters(k))
      assert(off.nonEmpty && off.exists(_.contains("GreaterThanOrEqual")), s"$cls: $off")
      assert(on == off, k.path)
    }
  }

  test("the point route's post-scan filter holds bound literals, not inlined ones") {
    val k = freshKey("point", new Random(10))
    val conds = planned(on = true) {
      val (df, cap) = k.frame
      val capped = df.limit(cap)
      capped.collect()
      collect(capped.queryExecution.executedPlan) { case f: FilterExec => f.condition }
    }
    assert(conds.exists(_.exists(_.isInstanceOf[ServingPlans.BoundLiteral])),
      s"no bound literal in ${conds.mkString("; ")}")
  }

  test("after one request of a route shape, a fresh key of it compiles no new class") {
    // shape by shape: Spark's generated-class cache (100 classes by
    // default) is shared with the other suites of this JVM, so a whole
    // round of the twelve shapes could find some of its classes evicted
    val srv = Server.start(spark, Map(Dataset -> (store, spec)))
    val client = HttpClient.newHttpClient()
    def get(path: String): Int = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}$path")).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val rnd = new Random(11)
      val added = Classes.map { cls =>
        assert(get(freshKey(cls, rnd).path) == 200, cls)
        val k = freshKey(cls, rnd)
        val before = compiles
        assert(get(k.path) == 200, k.path)
        cls -> (compiles - before)
      }
      assert(added.forall(_._2 == 0), s"fresh keys compiled new classes: $added")
    } finally srv.stop()
  }
}
