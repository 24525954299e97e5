package graft.serve

import graft.model.SeriesSpec
import graft.pipeline.Jobs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The REST route contract, HTTP-free (reference `api/routes/metrics.py`,
  * `api/routes/data.py`, `api/main.py`): request validation with the same
  * bounds, dispatch to the operator library, typed errors instead of HTTP
  * codes. A real server (any JVM HTTP framework) binds these handlers
  * 1:1 — the engine side is complete without pulling a web dependency
  * into the build.
  */
object Routes {

  sealed trait ApiError { def message: String }
  final case class NotFound(message: String) extends ApiError      // ≅ 404
  final case class InvalidParam(message: String) extends ApiError  // ≅ 422

  // --- health surface (reference `api/routes/health.py:11-54`) ---

  final case class Health(status: String, timestamp: String, service: String)
  final case class Readiness(status: String, timestamp: String,
                             checks: Map[String, Boolean])
  final case class Liveness(status: String, timestamp: String)

  private def nowUtc: String = java.time.Instant.now().toString

  /** ≅ GET /health — service banner (`health.py:11-22`). */
  def healthRoute(service: String = "graft-analytics"): Health =
    Health("healthy", nowUtc, service)

  /** The end-to-end execution probe is a full (if tiny) Spark job — running
    * it on EVERY readiness poll would add constant scheduler load and can
    * flip "not_ready" precisely when executors are saturated with real
    * work. Its result is therefore cached per-session for a TTL; the cheap
    * probes (isStopped, catalog) stay per-call.
    */
  // weak keys: a static map keyed on SparkSession must not keep stopped
  // sessions (and their whole context graphs) reachable for the JVM's life
  private val execProbe = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (Long, Boolean)]())

  private[serve] def executionCheck(spark: SparkSession, ttlMs: Long): Boolean = {
    val now = System.nanoTime() / 1000000L
    val cached = Option(execProbe.get(spark)).filter { case (t, _) => now - t < ttlMs }
    cached.map(_._2).getOrElse {
      val ok = scala.util.Try(spark.range(1).count() == 1L).getOrElse(false)
      execProbe.put(spark, (now, ok))
      ok
    }
  }

  /** ≅ GET /health/ready — dependency checks (`health.py:25-50`). The
    * reference verifies its core modules import; the Spark analog verifies
    * the session is live, the catalog answers, and a trivial plan executes
    * end-to-end (driver → executor → result; TTL-cached, see
    * [[executionCheck]]). `extraChecks` lets a deployer wire in store/cache
    * probes; any false check flips status to "not_ready" while still
    * reporting every component.
    */
  def readinessRoute(
      spark: SparkSession,
      extraChecks: Map[String, () => Boolean] = Map.empty,
      executionProbeTtlMs: Long = 30000L
  ): Readiness = {
    val base = Map(
      "api" -> true,
      "spark_session" -> !spark.sparkContext.isStopped,
      "catalog" -> scala.util.Try(spark.catalog.currentDatabase.nonEmpty)
        .getOrElse(false),
      "execution" -> executionCheck(spark, executionProbeTtlMs))
    val checks = base ++ extraChecks.map { case (k, f) =>
      k -> scala.util.Try(f()).getOrElse(false)
    }
    Readiness(if (checks.values.forall(identity)) "ready" else "not_ready",
      nowUtc, checks)
  }

  /** ≅ GET /health/live (`health.py:53-63`). */
  def livenessRoute(): Liveness = Liveness("alive", nowUtc)

  /** ≅ GET /metrics/temporal/{dataset}?metric=...&lat=&lon=
    * (reference `api/routes/metrics.py:11-46`): Literal metric validation,
    * lat ∈ [-90, 90], lon ∈ [-180, 180].
    */
  final case class MetricRequest(
      dataset: String,
      metric: String,
      lat: Option[Double] = None,
      lon: Option[Double] = None,
      referencePeriod: Option[(String, String)] = None)

  val AllowedMetrics: Set[String] = Set(
    "monthly", "seasonal", "annual", "climatology", "percentiles",
    "trend", "trend_significance", "anomaly")

  def metricRoute(
      spark: SparkSession,
      registry: Map[String, (DataFrame, SeriesSpec)],
      req: MetricRequest
  ): Either[ApiError, DataFrame] =
    for {
      entry <- registry.get(req.dataset)
        .toRight(NotFound(s"Dataset not found: ${req.dataset}"))
      _ <- Either.cond(AllowedMetrics.contains(req.metric), (),
        InvalidParam(s"Unknown metric '${req.metric}'. " +
          s"Allowed: ${AllowedMetrics.toSeq.sorted.mkString(", ")}"))
      _ <- Either.cond(req.lat.forall(l => l >= -90 && l <= 90), (),
        InvalidParam(s"lat must be in [-90, 90], got ${req.lat.get}"))
      _ <- Either.cond(req.lon.forall(l => l >= -180 && l <= 180), (),
        InvalidParam(s"lon must be in [-180, 180], got ${req.lon.get}"))
      // a half-specified point is a validation error, not a silent
      // whole-dataset metric presented as the point's answer (mirrors the
      // ref_start/ref_end and start/end pair handling)
      _ <- Either.cond(req.lat.isDefined == req.lon.isDefined, (),
        InvalidParam("lat and lon must be given together"))
      _ <- Either.cond(
        req.lat.isEmpty && req.lon.isEmpty || entry._2.keyCols.length >= 2, (),
        InvalidParam(s"Dataset '${req.dataset}' has no (lat, lon) grid; " +
          "point queries are not supported for it"))
    } yield {
      val (df, spec) = entry
      val scoped = (req.lat, req.lon) match {
        case (Some(la), Some(lo)) =>
          // the SHARED snapped-cell predicate (Api.cellFilter): the
          // nearest STORED lat and lon, each matched by a zero-width
          // closed range, so the cell's rows match whatever the spacing
          df.where(Api.cellFilter(df, la, lo,
            latCol = spec.keyCols.head, lonCol = spec.keyCols(1)))
        case _ => df
      }
      Jobs.computeMetric(scoped, spec, req.metric, req.referencePeriod)
    }
}
