package graft.serve

import graft.SparkSpec
import graft.bench.DataGen
import graft.model.SeriesSpec

class RoutesSpec extends SparkSpec {

  private lazy val grid = DataGen.sampleGrid(spark, days = 120)
  private val spec = SeriesSpec("ts", Seq("lat", "lon"), "temperature")
  private lazy val registry = Map("era5_sample" -> (grid, spec))

  test("valid metric request dispatches and scopes to the nearest cell") {
    val out = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("era5_sample", "monthly", lat = Some(12.0), lon = Some(33.0)))
    assert(out.isRight)
    val df = out.toOption.get
    assert(df.count() == 4) // 120 days → 4 months at one cell
    assert(df.select("lat").distinct().count() == 1)
  }

  test("unknown dataset is a NotFound, like the reference 404") {
    val out = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("nope", "monthly"))
    assert(out == Left(Routes.NotFound("Dataset not found: nope")))
  }

  test("invalid metric and out-of-bounds coordinates are InvalidParam") {
    val badMetric = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("era5_sample", "hourly"))
    assert(badMetric.swap.toOption.get.isInstanceOf[Routes.InvalidParam])
    assert(badMetric.swap.toOption.get.message.contains("hourly"))
    val badLat = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("era5_sample", "monthly", lat = Some(95), lon = Some(0)))
    assert(badLat.swap.toOption.get.message.contains("95"))
  }

  test("global metric without coordinates runs over the full grid") {
    val out = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("era5_sample", "climatology"))
    assert(out.toOption.get.select("lat").distinct().count() == 19)
  }

  test("half-specified point (lat without lon) is an InvalidParam, " +
    "not a silent whole-dataset metric") {
    val out = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("era5_sample", "annual", lat = Some(12.0)))
    assert(out.swap.toOption.get.isInstanceOf[Routes.InvalidParam])
    assert(out.swap.toOption.get.message.contains("together"))
    val out2 = Routes.metricRoute(spark, registry,
      Routes.MetricRequest("era5_sample", "annual", lon = Some(33.0)))
    assert(out2.swap.toOption.get.isInstanceOf[Routes.InvalidParam])
  }

  test("point metric matches certified-regular grids whose stored " +
    "coordinates differ from the arithmetic snap in the last bits") {
    import org.apache.spark.sql.functions._
    // one rung of the lat ladder stored 1e-9 off the arithmetic lattice
    // (the accumulated-step / float32-origin case): an arithmetic snap
    // would differ from the stored double, and an exact match on it
    // would select zero rows; the snap to the stored value selects them
    val off = grid.withColumn("lat",
      when(col("lat") === 10.0, lit(10.0 + 1e-9)).otherwise(col("lat")))
    val reg = Map("off" -> (off, spec))
    val out = Routes.metricRoute(spark, reg,
      Routes.MetricRequest("off", "monthly", lat = Some(12.0), lon = Some(33.0)))
    assert(out.isRight)
    val df = out.toOption.get
    assert(df.count() == 4, "snapped point must match its cell's rows")
    assert(df.select("lat").distinct().count() == 1)
  }

  test("health returns the service banner with an ISO-8601 UTC timestamp") {
    val h = Routes.healthRoute()
    assert(h.status == "healthy" && h.service == "graft-analytics")
    assert(java.time.Instant.parse(h.timestamp) != null) // parseable ISO-8601
  }

  test("readiness runs the dependency checks and reports each component") {
    val r = Routes.readinessRoute(spark)
    assert(r.status == "ready", s"checks: ${r.checks}")
    assert(Set("api", "spark_session", "catalog", "execution").subsetOf(r.checks.keySet))
    assert(r.checks.values.forall(identity))
  }

  test("a failing dependency check flips readiness to not_ready but keeps the report") {
    val r = Routes.readinessRoute(spark,
      extraChecks = Map(
        "store" -> (() => true),
        "cache" -> (() => throw new RuntimeException("down"))))
    assert(r.status == "not_ready")
    assert(r.checks("store") && !r.checks("cache"))
    assert(r.checks("execution")) // healthy components still report true
  }

  test("liveness is alive") {
    assert(Routes.livenessRoute().status == "alive")
  }

  test("execution probe is TTL-cached: no Spark job per readiness poll") {
    // The probe runs on the calling thread, so a thread-local job group
    // scopes exactly the jobs THIS test triggers — counting the global job
    // list (getJobIdsForGroup(null)) flakes when a concurrently-running
    // suite lands a job between the before/after samples.
    val sc = spark.sparkContext
    sc.setJobGroup("routes-ttl-probe", "RoutesSpec TTL test", interruptOnCancel = false)
    try {
      def probeJobs = sc.statusTracker.getJobIdsForGroup("routes-ttl-probe").length
      Routes.readinessRoute(spark) // prime the cache
      val before = probeJobs
      (1 to 20).foreach(_ => Routes.readinessRoute(spark))
      val after = probeJobs
      assert(after == before,
        s"20 polls within the TTL ran ${after - before} Spark jobs; expected 0")
      // ttl = 0 forces a fresh probe (and therefore a job) every call
      Routes.readinessRoute(spark, executionProbeTtlMs = 0L)
      assert(probeJobs > after, "ttl=0 should re-run the execution probe")
    } finally sc.clearJobGroup()
  }
}
