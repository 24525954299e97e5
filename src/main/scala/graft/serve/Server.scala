package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ingest.BBox
import graft.model.SeriesSpec
import graft.plans.ServingPlans
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** A real HTTP socket over the HTTP-free route contract ([[Routes]] /
  * [[Api]]) — the analog of the reference's FastAPI+uvicorn entry point
  * (`api/main.py:1-117`, `api/routes/`), built on the JDK's own
  * `com.sun.net.httpserver` so the engine stays dependency-free.
  *
  * Path surface mirrors the reference 1:1:
  *   GET /                                    — API banner (`main.py:63-79`)
  *   GET /api/v1/info                         — capabilities (`main.py:81-104`)
  *   GET /health, /health/ready, /health/live — (`routes/health.py`)
  *   GET /api/v1/data/datasets[/{id}]         — catalog (`routes/data.py:43-85`)
  *   GET /api/v1/data/datasets/{id}/point     — point series (`data.py:88-127`)
  *   GET /api/v1/data/datasets/{id}/region    — region extract (`data.py:130-169`)
  *   GET /api/v1/data/datasets/{id}/stats     — region/global stats (`data.py:172-214`)
  *   GET /api/v1/metrics/{temporal|percentiles|trend|anomaly}/{id}
  *                                            — metric dispatch (`routes/metrics.py`)
  *
  * Error contract is FastAPI's: `{"detail": …}` with 404 (unknown
  * dataset), 422 (validation), 500 (unhandled — `main.py:107-117`).
  * Successful data/metric responses flow through a
  * [[Cache.ResilientCache]] over a pluggable [[Cache.CacheBackend]]
  * exactly where the reference put Redis (`api/cache.py` — in-process
  * LRU by default, [[Cache.FileBackend]] for cross-process sharing;
  * backend failures degrade to compute, never to a 500), keyed by
  * [[Cache.cacheKey]] over path + sorted query params.
  *
  * Serving stays bounded: every row payload is `limit()`-capped at
  * [[Api.MaxPointsPerRequest]] / [[Api.MaxTimeSteps]] BEFORE collect, so
  * a client cannot trigger an unbounded driver materialization — the
  * JSON rows come from Spark's own row serializer (the generator
  * `df.toJSON` uses, writing internal rows directly: [[Bridge.jsonRows]]),
  * taken through `toLocalIterator` only after the cap.
  *
  * Serving compiles once per route SHAPE, not once per request: `start`
  * installs [[graft.plans.ServingPlans]] on the session. Spark inlines
  * primitive literals into whole-stage generated Java, so each fresh
  * lat/lon, bbox or time range used to be new source text and a Janino
  * compile (2–4 classes per cold request); the strategy binds the
  * post-scan filter's comparison literals into the class's references
  * instead. The strategy stays installed for the whole session.
  *
  * The row cap is outside generated code too. `df.limit(cap).toJSON` put
  * the limit under `toJSON`'s map, inside a generated stage, and Spark
  * names each limit's counter from a JVM-wide sequence
  * (`_limit_counter_16`, `_17` …), so that stage was new source on every
  * request, even for an identical key. Rendered from
  * `queryExecution.toRdd`, `limit(cap)` is the plan's root limit, which
  * Spark runs as `CollectLimitExec` (`TakeOrderedAndProjectExec` over a
  * sort). Skipping `toJSON`'s external-row round trip also keeps two
  * generated classes per route schema out of Spark's generated-class
  * cache, which must hold the routes' classes for the binding to pay off
  * (SCALE.md, "serving: compile once per route shape").
  */
object Server {

  // A response goes out in two writes, headers then body. With Nagle's
  // algorithm on, the body waits for the ACK of the headers, which the
  // client delays (~40 ms) on every second keep-alive response. The JDK
  // server reads this property once, when its first HttpServer is created.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  final class Running private[Server] (
      server: HttpServer,
      pool: java.util.concurrent.ExecutorService,
      val cacheStats: () => Cache.ResilientStats) {
    def port: Int = server.getAddress.getPort
    def stop(): Unit = {
      server.stop(0)
      // HttpServer.stop does NOT stop a user-supplied executor; without
      // this its non-daemon threads keep the JVM alive after stop()
      pool.shutdown()
    }
  }

  private def nowUtc: String = java.time.Instant.now().toString

  // --- minimal JSON emission (objects we build ourselves; row payloads
  // are serialized by Spark's JSON generator, which owns escaping/typing) ---
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Values are already-rendered JSON fragments. */
  private def jobj(fields: (String, String)*): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  private def jarr(items: Seq[String]): String = items.mkString("[", ",", "]")

  /** Collect a capped DataFrame as a JSON array of row objects. */
  private def rowsJson(df: DataFrame, cap: Int): String = {
    val it = Bridge.jsonRows(df.limit(cap)).toLocalIterator
    val b = new StringBuilder("[")
    var first = true
    while (it.hasNext) {
      if (!first) b.append(',')
      b.append(it.next()); first = false
    }
    b.append(']').toString
  }

  private final case class HttpError(status: Int, detail: String)
    extends RuntimeException(detail)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.nonEmpty).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
          case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
          case _ => None
        }
      }.toMap

  private def dbl(params: Map[String, String], name: String): Option[Double] =
    params.get(name).map { v =>
      try v.toDouble
      catch { case _: NumberFormatException =>
        throw HttpError(422, s"$name must be a number, got '$v'") }
    }

  private def require422(cond: Boolean, msg: => String): Unit =
    if (!cond) throw HttpError(422, msg)

  /** Start serving `registry` (dataset id → (table, series spec)) on
    * `port` (0 = ephemeral). Returns the running server; callers own its
    * lifecycle — `stop()` releases the socket, the SparkSession is not
    * touched.
    */
  def start(
      spark: SparkSession,
      registry: Map[String, (DataFrame, SeriesSpec)],
      port: Int = 0,
      cacheTtlSeconds: Long = 3600L,
      service: String = "graft-analytics",
      // the Redis slot: any CacheBackend (e.g. Cache.FileBackend for
      // cross-process sharing); None = in-process LRU fallback. Backend
      // failures degrade to compute via ResilientCache, never to a 500.
      cacheBackend: Option[Cache.CacheBackend] = None
  ): Running = {
    ServingPlans.install(spark)
    val backend = cacheBackend.getOrElse(
      new Cache.LruBackend(maxEntries = 1024, ttlSeconds = cacheTtlSeconds))
    val cache = new Cache.ResilientCache(backend, ttlSeconds = cacheTtlSeconds)

    def datasetJson(id: String, df: DataFrame, spec: SeriesSpec): String = {
      val units = df.schema.fields.find(_.name == spec.valueCol)
        .flatMap(f => if (f.metadata.contains("units"))
          Some(f.metadata.getString("units")) else None)
      jobj(
        "id" -> jstr(id),
        "variable" -> jstr(spec.valueCol),
        "units" -> units.map(jstr).getOrElse("null"),
        "dimensions" -> jarr((spec.tsCol +: spec.keyCols).map(jstr)),
        "available_metrics" -> jarr(Routes.AllowedMetrics.toSeq.sorted.map(jstr)))
    }

    def entryOr404(id: String): (DataFrame, SeriesSpec) =
      registry.getOrElse(id, throw HttpError(404, s"Dataset not found: $id"))

    def latLon(params: Map[String, String]): (Double, Double) = {
      val lat = dbl(params, "lat").getOrElse(throw HttpError(422, "lat is required"))
      val lon = dbl(params, "lon").getOrElse(throw HttpError(422, "lon is required"))
      require422(lat >= -90 && lat <= 90, s"lat must be in [-90, 90], got $lat")
      require422(lon >= -180 && lon <= 180, s"lon must be in [-180, 180], got $lon")
      (lat, lon)
    }

    def timeRange(params: Map[String, String]): Option[(String, String)] =
      (params.get("start_date"), params.get("end_date")) match {
        case (Some(s), Some(e)) => Some((s, e))
        case (None, None) => None
        case _ => throw HttpError(422,
          "start_date and end_date must be given together")
      }

    def bboxOpt(params: Map[String, String]): Option[BBox] = {
      val parts = Seq("min_lon", "min_lat", "max_lon", "max_lat")
        .map(n => n -> dbl(params, n))
      if (parts.forall(_._2.isEmpty)) None
      else {
        val m = parts.collect { case (n, Some(v)) => n -> v }.toMap
        require422(m.size == 4, "bbox needs all of min_lon, min_lat, max_lon, max_lat")
        require422(m("min_lat") <= m("max_lat"),
          s"min_lat ${m("min_lat")} > max_lat ${m("max_lat")}")
        Some(BBox(west = m("min_lon"), south = m("min_lat"),
          east = m("max_lon"), north = m("max_lat")))
      }
    }

    /** Data/metric payloads go through the response cache (C1-C4). */
    def cached(ex: HttpExchange)(body: => String): String =
      cache.getOrCompute(Cache.cacheKey(
        ex.getRequestURI.getPath, queryParams(ex)))(body)

    // STAC documents exist for the spatio-temporal datasets only
    // (a grid = at least (lat, lon) key columns)
    val stacIds: Seq[String] = registry.toSeq.sortBy(_._1)
      .collect { case (id, (_, spec)) if spec.keyCols.length >= 2 => id }

    def stacEntry(id: String): (DataFrame, SeriesSpec) = {
      val (df, spec) = entryOr404(id)
      require422(spec.keyCols.length >= 2,
        s"Dataset '$id' has no (lat, lon) grid; no STAC collection exists for it")
      (df, spec)
    }

    def unitsOf(df: DataFrame, spec: SeriesSpec): String =
      df.schema.fields.find(_.name == spec.valueCol)
        .filter(_.metadata.contains("units"))
        .map(_.metadata.getString("units")).getOrElse("1")

    def stacCollectionJson(id: String): String = {
      val (df, spec) = stacEntry(id)
      graft.model.Catalog.stacCollection(df, id,
          s"$service dataset $id", spec.tsCol,
          spec.keyCols.head, spec.keyCols(1))
        .head().getAs[String]("json")
    }

    def stacItemJson(id: String): String = {
      val (df, spec) = stacEntry(id)
      graft.model.Catalog.stacItem(df, id, spec.tsCol,
          spec.keyCols.head, spec.keyCols(1),
          variables = Seq(spec.valueCol -> unitsOf(df, spec)),
          href = s"graft://datasets/$id", collectionId = id)
        .head().getAs[String]("json")
    }

    def metricResponse(ex: HttpExchange, id: String, metric: String): String = {
      val params = queryParams(ex)
      val req = Routes.MetricRequest(id, metric,
        lat = dbl(params, "lat"), lon = dbl(params, "lon"),
        referencePeriod = (params.get("ref_start"), params.get("ref_end")) match {
          case (Some(s), Some(e)) => Some((s, e))
          case (None, None) => None
          // mirror timeRange(): a half-specified pair is a validation
          // error, not a silent ignore
          case _ => throw HttpError(422,
            "ref_start and ref_end must be given together")
        })
      // dispatch INSIDE the cache lookup: a cache hit must not pay the
      // route's plan-building work (on irregular grids the point snap is
      // two Spark jobs per request); errors throw before anything is
      // stored, so 404/422s are never cached
      cached(ex) {
        Routes.metricRoute(spark, registry, req) match {
          case Left(Routes.NotFound(m)) => throw HttpError(404, m)
          case Left(Routes.InvalidParam(m)) => throw HttpError(422, m)
          case Right(df) =>
            jobj("dataset" -> jstr(id), "metric" -> jstr(metric),
              "data" -> rowsJson(df, Api.MaxPointsPerRequest),
              "timestamp" -> jstr(nowUtc))
        }
      }
    }

    def handle(ex: HttpExchange): (Int, String) = {
      if (ex.getRequestMethod != "GET")
        throw HttpError(405, "Method not allowed")
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      val params = queryParams(ex)
      segs match {
        case Nil => 200 -> jobj(
          "name" -> jstr(s"$service API"),
          "version" -> jstr("1.0.0"),
          "health" -> jstr("/health"),
          "endpoints" -> jobj(
            "datasets" -> jstr("/api/v1/data/datasets"),
            "metrics" -> jstr("/api/v1/metrics")),
          "timestamp" -> jstr(nowUtc))
        case "health" :: Nil =>
          val h = Routes.healthRoute(service)
          200 -> jobj("status" -> jstr(h.status),
            "timestamp" -> jstr(h.timestamp), "service" -> jstr(h.service))
        case "health" :: "ready" :: Nil =>
          val r = Routes.readinessRoute(spark)
          (if (r.status == "ready") 200 else 503) -> jobj(
            "status" -> jstr(r.status), "timestamp" -> jstr(r.timestamp),
            "checks" -> jobj(r.checks.toSeq.sortBy(_._1)
              .map { case (k, v) => k -> v.toString }: _*))
        case "health" :: "live" :: Nil =>
          val l = Routes.livenessRoute()
          200 -> jobj("status" -> jstr(l.status), "timestamp" -> jstr(l.timestamp))
        case "api" :: "v1" :: "info" :: Nil => 200 -> jobj(
          "version" -> jstr("1.0.0"),
          "capabilities" -> jobj(
            "data_access" -> jarr(Seq("point", "region", "timeseries").map(jstr)),
            "metrics" -> jarr(Routes.AllowedMetrics.toSeq.sorted.map(jstr))),
          "processing" -> jobj(
            "engine" -> jstr("spark-sql"),
            "parallel" -> jstr("spark"),
            "cache" -> jstr(cache.describe)),
          "limits" -> jobj(
            "max_points_per_request" -> Api.MaxPointsPerRequest.toString,
            "max_time_steps" -> Api.MaxTimeSteps.toString,
            "cache_ttl_seconds" -> cacheTtlSeconds.toString),
          "timestamp" -> jstr(nowUtc))
        case "api" :: "v1" :: "data" :: "datasets" :: Nil => 200 -> jobj(
          "datasets" -> jarr(registry.toSeq.sortBy(_._1)
            .map { case (id, (df, spec)) => datasetJson(id, df, spec) }),
          "count" -> registry.size.toString,
          "timestamp" -> jstr(nowUtc))
        case "api" :: "v1" :: "data" :: "datasets" :: id :: Nil =>
          val (df, spec) = entryOr404(id)
          200 -> datasetJson(id, df, spec)
        case "api" :: "v1" :: "data" :: "datasets" :: id :: "point" :: Nil =>
          val (df, spec) = entryOr404(id)
          require422(spec.keyCols.length >= 2,
            s"Dataset '$id' has no (lat, lon) grid; point queries are not supported")
          val (lat, lon) = latLon(params)
          200 -> cached(ex) {
            val rows = Api.pointSeries(df, spec, lat, lon, timeRange(params),
              latCol = spec.keyCols.head, lonCol = spec.keyCols(1))
            jobj("dataset" -> jstr(id),
              "location" -> jobj("lat" -> lat.toString, "lon" -> lon.toString),
              "variable" -> jstr(spec.valueCol),
              "data" -> rowsJson(rows, Api.MaxTimeSteps),
              "timestamp" -> jstr(nowUtc))
          }
        case "api" :: "v1" :: "data" :: "datasets" :: id :: "region" :: Nil =>
          val (df, spec) = entryOr404(id)
          require422(spec.keyCols.length >= 2,
            s"Dataset '$id' has no (lat, lon) grid; region queries are not supported")
          val bbox = bboxOpt(params).getOrElse(
            throw HttpError(422, "region needs min_lon, min_lat, max_lon, max_lat"))
          200 -> cached(ex) {
            jobj("dataset" -> jstr(id), "variable" -> jstr(spec.valueCol),
              "data" -> rowsJson(
                Api.regionData(df, spec, bbox,
                  latCol = spec.keyCols.head, lonCol = spec.keyCols(1)),
                Api.MaxPointsPerRequest),
              "timestamp" -> jstr(nowUtc))
          }
        case "api" :: "v1" :: "data" :: "datasets" :: id :: "stats" :: Nil =>
          val (df, spec) = entryOr404(id)
          200 -> cached(ex) {
            val stats = bboxOpt(params) match {
              case Some(bbox) =>
                require422(spec.keyCols.length >= 2,
                  s"Dataset '$id' has no (lat, lon) grid; bbox stats are not supported")
                Api.regionStats(df, spec, bbox, timeRange(params),
                  latCol = spec.keyCols.head, lonCol = spec.keyCols(1))
              case None => Api.globalStats(df, Seq(spec.valueCol))
            }
            jobj("dataset" -> jstr(id),
              "data" -> rowsJson(stats, Api.MaxPointsPerRequest),
              "timestamp" -> jstr(nowUtc))
          }
        case "api" :: "v1" :: "metrics" :: "temporal" :: id :: Nil =>
          val metric = params.getOrElse("metric",
            throw HttpError(422, "metric is required"))
          200 -> metricResponse(ex, id, metric)
        case "api" :: "v1" :: "metrics" :: "percentiles" :: id :: Nil =>
          200 -> metricResponse(ex, id, "percentiles")
        case "api" :: "v1" :: "metrics" :: "trend" :: id :: Nil =>
          // explicit parse: significance=True / =1 silently computing the
          // PLAIN trend would hand the client the wrong statistic
          val metric = params.get("significance") match {
            case None => "trend"
            case Some(v) if v.equalsIgnoreCase("true") => "trend_significance"
            case Some(v) if v.equalsIgnoreCase("false") => "trend"
            case Some(v) => throw HttpError(422,
              s"significance must be true or false, got '$v'")
          }
          200 -> metricResponse(ex, id, metric)
        case "api" :: "v1" :: "metrics" :: "anomaly" :: id :: Nil =>
          200 -> metricResponse(ex, id, "anomaly")

        // ---- STAC discovery surface (reference stac_demo.py:279-340
        // API spec: landing page, /collections, /collections/{id},
        // /collections/{id}/items). One Collection + one Item per
        // spatio-temporal dataset (>= 2 key columns = a lat/lon grid);
        // documents are emitted by model/Catalog's deterministic
        // builders, extents computed from the data, responses cached
        // like every other data payload.
        case "stac" :: Nil =>
          200 -> cached(ex) {
            graft.model.Catalog.stacCatalog(spark, service,
              s"$service STAC catalog", stacIds).head().getAs[String]("json")
          }
        case "stac" :: "collections" :: Nil =>
          200 -> cached(ex) {
            jobj(
              "collections" -> jarr(stacIds.map(stacCollectionJson)),
              "count" -> stacIds.size.toString,
              "timestamp" -> jstr(nowUtc))
          }
        case "stac" :: "collections" :: id :: Nil =>
          200 -> cached(ex)(stacCollectionJson(id))
        case "stac" :: "collections" :: id :: "items" :: Nil =>
          200 -> cached(ex) {
            jobj("type" -> jstr("FeatureCollection"),
              "features" -> jarr(Seq(stacItemJson(id))),
              "timestamp" -> jstr(nowUtc))
          }

        case _ => throw HttpError(404, "Not found")
      }
    }

    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val (status, body) =
        try handle(ex)
        catch {
          case HttpError(s, d) => s -> jobj("detail" -> jstr(d))
          // unhandled → FastAPI's opaque 500 (`main.py:107-117`): the
          // detail goes to the server log, not the client
          case e: Throwable =>
            System.err.println(s"[serve] 500 ${ex.getRequestURI}: ${e.getMessage}")
            500 -> jobj("detail" -> jstr("Internal server error"))
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    })
    // small fixed pool: request handling is mostly Spark-job-bound; the
    // pool bounds concurrent driver-side collects, not Spark parallelism
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    new Running(server, pool, () => cache.stats)
  }
}
