package graft.serve

import graft.SparkSpec
import graft.bench.DataGen
import graft.model.SeriesSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP tests: a real socket, a real client, real Spark jobs
  * behind the handlers — the uvicorn-level coverage the reference gets
  * from its FastAPI test client.
  */
class ServerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val grid = DataGen.sampleGrid(spark, days = 120)
  private val spec = SeriesSpec("ts", Seq("lat", "lon"), "temperature")
  private lazy val registry = Map("era5_sample" -> (grid, spec))

  private lazy val srv = Server.start(spark, registry)
  private val client = HttpClient.newHttpClient()

  // Server.start installs the serving strategy on the session, which
  // the suites of this JVM share: the suites after this one plan without it
  private var strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] = Nil

  override def beforeAll(): Unit = {
    super.beforeAll()
    strategies = spark.experimental.extraStrategies
  }

  override def afterAll(): Unit = {
    srv.stop() // releases the socket AND shuts down the handler pool
    spark.experimental.extraStrategies = strategies
    super.afterAll()
  }

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  test("banner, info, and health endpoints answer 200 JSON") {
    val root = get("/")
    assert(root.statusCode() == 200)
    assert(root.headers().firstValue("Content-Type").get == "application/json")
    assert(root.body().contains("\"endpoints\""))
    assert(get("/api/v1/info").body().contains("\"max_points_per_request\":10000"))
    assert(get("/health").body().contains("\"status\":\"healthy\""))
    assert(get("/health/live").body().contains("\"alive\""))
    val ready = get("/health/ready")
    assert(ready.statusCode() == 200)
    assert(ready.body().contains("\"execution\":true"))
  }

  test("dataset catalog lists and describes; unknown id is a 404 detail") {
    val list = get("/api/v1/data/datasets")
    assert(list.statusCode() == 200)
    assert(list.body().contains("\"count\":1") &&
      list.body().contains("\"era5_sample\""))
    val one = get("/api/v1/data/datasets/era5_sample")
    assert(one.body().contains("\"variable\":\"temperature\""))
    val missing = get("/api/v1/data/datasets/nope")
    assert(missing.statusCode() == 404)
    assert(missing.body() == "{\"detail\":\"Dataset not found: nope\"}")
  }

  test("STAC chain: catalog links collections, collection carries extent, items wrap the feature") {
    val root = get("/stac")
    assert(root.statusCode() == 200)
    assert(root.body().contains("\"type\":\"Catalog\"") &&
      root.body().contains("\"href\":\"collections/era5_sample\""))
    val list = get("/stac/collections")
    assert(list.statusCode() == 200 && list.body().contains("\"count\":1"))
    val coll = get("/stac/collections/era5_sample")
    assert(coll.statusCode() == 200)
    assert(coll.body().contains("\"type\":\"Collection\"") &&
      coll.body().contains("\"cube:dimensions\"") &&
      coll.body().contains("\"temporal\":{\"interval\""))
    val items = get("/stac/collections/era5_sample/items")
    assert(items.statusCode() == 200)
    assert(items.body().contains("\"type\":\"FeatureCollection\"") &&
      items.body().contains("\"stac_version\":\"1.0.0\"") &&
      items.body().contains("\"cube:variables\"") &&
      items.body().contains("\"collection\":\"era5_sample\""))
    // a dataset without a lat/lon grid gets a 422, unknown id a 404
    assert(get("/stac/collections/nope").statusCode() == 404)
  }

  test("point route returns a capped ordered series; bad lat is a 422") {
    val ok = get("/api/v1/data/datasets/era5_sample/point?lat=12.0&lon=33.0")
    assert(ok.statusCode() == 200)
    // 120 daily rows at the snapped cell, Spark-serialized
    assert("\"temperature\":".r.findAllIn(ok.body()).size == 120)
    val bad = get("/api/v1/data/datasets/era5_sample/point?lat=123&lon=0")
    assert(bad.statusCode() == 422)
    assert(bad.body().contains("lat must be in [-90, 90]"))
    val nonNum = get("/api/v1/data/datasets/era5_sample/point?lat=abc&lon=0")
    assert(nonNum.statusCode() == 422)
  }

  test("region and stats routes honor the bbox; missing bbox on region is 422") {
    val stats = get("/api/v1/data/datasets/era5_sample/stats" +
      "?min_lon=0&min_lat=0&max_lon=90&max_lat=45")
    assert(stats.statusCode() == 200)
    assert(stats.body().contains("\"p50\":"))
    val global = get("/api/v1/data/datasets/era5_sample/stats")
    assert(global.statusCode() == 200)
    assert(global.body().contains("\"temperature_mean\":"))
    assert(get("/api/v1/data/datasets/era5_sample/region").statusCode() == 422)
    val region = get("/api/v1/data/datasets/era5_sample/region" +
      "?min_lon=0&min_lat=0&max_lon=90&max_lat=45")
    assert(region.statusCode() == 200)
  }

  test("metric routes dispatch; invalid metric is a 422 with the allow-list") {
    val monthly = get("/api/v1/metrics/temporal/era5_sample?metric=monthly&lat=12&lon=33")
    assert(monthly.statusCode() == 200)
    assert(monthly.body().contains("\"metric\":\"monthly\""))
    val trend = get("/api/v1/metrics/trend/era5_sample")
    assert(trend.statusCode() == 200)
    val bad = get("/api/v1/metrics/temporal/era5_sample?metric=hourly")
    assert(bad.statusCode() == 422)
    assert(bad.body().contains("Allowed:"))
    assert(get("/api/v1/metrics/temporal/nope?metric=monthly").statusCode() == 404)
  }

  test("response cache serves repeat requests without recomputing") {
    val path = "/api/v1/data/datasets/era5_sample/point?lat=45.0&lon=100.0"
    val first = get(path)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val second = get(path)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(first.body() == second.body())
    assert(jobsBefore == jobsAfter, "cache hit must not launch Spark jobs")
  }

  test("half-specified reference period is a 422, like start/end dates") {
    val half = get("/api/v1/metrics/anomaly/era5_sample?ref_start=2020-01-01")
    assert(half.statusCode() == 422)
    assert(half.body().contains("ref_start and ref_end must be given together"))
  }

  test("a file-backed cache is shared across server instances") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srv-cache")
    val a = Server.start(spark, registry,
      cacheBackend = Some(new Cache.FileBackend(dir)))
    val b = Server.start(spark, registry,
      cacheBackend = Some(new Cache.FileBackend(dir)))
    try {
      val path = "/api/v1/data/datasets/era5_sample/point?lat=-33.0&lon=18.0"
      def on(port: Int) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
        HttpResponse.BodyHandlers.ofString())
      val first = on(a.port)
      assert(first.statusCode() == 200)
      val second = on(b.port) // different process-analog, same backing dir
      assert(second.body() == first.body())
      assert(b.cacheStats().hits == 1,
        "second server must hit the shared file cache, not recompute")
      assert(get("/api/v1/info").body().contains("in-memory-lru"),
        "default server still reports the in-process backend")
    } finally { a.stop(); b.stop() }
  }

  test("concurrent soak: parallel clients over a live cache node, no bleed") {
    // N parallel HTTP clients hammering point/stats/metric routes against
    // a server whose response cache is a LIVE CacheServer over TCP — the
    // full serving stack under concurrency. Every response must be
    // byte-identical to its single-threaded reference for ITS parameters
    // (a cross-request bleed — wrong cache key, shared mutable state in a
    // handler, protocol desync on the cache wire — shows up as one
    // client's body under another's params), and the cache must actually
    // serve repeats (hit rate > 0). Three full rounds guard against
    // order-dependent flakes.
    val node = new Cache.CacheServer(new Cache.LruBackend(ttlSeconds = 600)).start()
    val s2 = Server.start(spark, registry,
      cacheBackend = Some(new Cache.NetBackend("127.0.0.1", node.boundPort)))
    try {
      val paths = Vector(
        "/api/v1/data/datasets/era5_sample/point?lat=10.0&lon=20.0",
        "/api/v1/data/datasets/era5_sample/point?lat=-40.0&lon=150.0",
        "/api/v1/data/datasets/era5_sample/point?lat=62.0&lon=-110.0",
        "/api/v1/data/datasets/era5_sample/stats" +
          "?min_lon=0&min_lat=0&max_lon=90&max_lat=45",
        "/api/v1/data/datasets/era5_sample/stats",
        "/api/v1/metrics/temporal/era5_sample?metric=monthly&lat=12&lon=33",
        "/api/v1/metrics/trend/era5_sample",
        "/api/v1/data/datasets/era5_sample")
      def on(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${s2.port}$path")).build(),
        HttpResponse.BodyHandlers.ofString())
      // single-threaded reference bodies (also primes the cache)
      val expected = paths.map(p => p -> on(p).body()).toMap
      (1 to 3).foreach { round =>
        val nClients = 8
        val perClient = 12
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
        try {
          val futures = (0 until nClients).map { c =>
            pool.submit(new Runnable {
              def run(): Unit = {
                val rnd = new scala.util.Random(round * 1000 + c)
                val cl = HttpClient.newHttpClient()
                (0 until perClient).foreach { _ =>
                  val p = paths(rnd.nextInt(paths.length))
                  try {
                    val resp = cl.send(
                      HttpRequest.newBuilder(
                        URI.create(s"http://127.0.0.1:${s2.port}$p")).build(),
                      HttpResponse.BodyHandlers.ofString())
                    if (resp.statusCode() != 200)
                      errors.add(s"$p -> ${resp.statusCode()}")
                    else if (resp.body() != expected(p))
                      errors.add(s"$p -> body drift (cross-request bleed?)")
                  } catch {
                    case e: Exception => errors.add(s"$p -> ${e.getMessage}")
                  }
                }
              }
            })
          }
          futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        } finally pool.shutdownNow()
        assert(errors.isEmpty,
          s"round $round: ${errors.size} failures, first: ${errors.peek()}")
      }
      val st = s2.cacheStats()
      assert(st.hits > 0, s"repeats must hit the cache node, got $st")
      assert(!st.degraded, "the TCP backend must stay healthy under load")
    } finally { s2.stop(); node.stop() }
  }

  test("adversarial request barrage: bounded JSON error responses, server stays alive") {
    val rnd = new scala.util.Random(20260816L)
    // weird-but-parseable requests through the real client: hostile query
    // encodings, absurd parameter values, deep/garbage paths, traversal
    // attempts — every response must be a well-formed JSON error object
    // with a FastAPI-contract status, never a hang or a connection drop
    val hostile = Seq(
      "/api/v1/data/datasets/era5_sample/point?lat=NaN&lon=Infinity",
      "/api/v1/data/datasets/era5_sample/point?lat=1e308&lon=-1e308",
      "/api/v1/data/datasets/era5_sample/point?lat=91&lon=0",
      "/api/v1/data/datasets/era5_sample/point?lat=0&lon=0&start_date=%27--",
      "/api/v1/data/datasets/era5_sample/region?min_lon=5&min_lat=5&max_lon=4&max_lat=90",
      "/api/v1/data/datasets/era5_sample/stats?min_lon=&min_lat=&max_lon=&max_lat=",
      "/api/v1/data/datasets/" + "x" * 4096,
      "/api/v1/data/datasets/..%2f..%2fetc%2fpasswd/point?lat=0&lon=0",
      "/api/v1/metrics/temporal/era5_sample?metric=" + "m" * 2048,
      "/api/v1/metrics/temporal/era5_sample?metric=monthly_mean&ref_start=x",
      "/api/v1/metrics/trend/era5_sample?significance=maybe",
      "/" + Seq.fill(64)("a").mkString("/"),
      "/api/v1/data/datasets/era5_sample/point?" +
        (0 until 200).map(i => s"p$i=$i").mkString("&") + "&lat=0&lon=0")
    hostile.foreach { p =>
      val r = get(p)
      assert(Set(200, 404, 405, 422, 500, 503).contains(r.statusCode()),
        s"$p -> unexpected status ${r.statusCode()}")
      assert(r.body().startsWith("{") && r.body().endsWith("}"),
        s"$p -> non-JSON body '${r.body().take(60)}'")
      if (r.statusCode() != 200)
        assert(r.body().contains("\"detail\""), s"$p -> error without detail")
    }
    // encodings the strict client-side URI parser refuses to even send
    // (bad escape pairs, NULs) go over a raw socket; the server must
    // still answer a bounded JSON error, never hang or drop silently
    def rawGet(path: String): (Int, String) = {
      val s = new java.net.Socket("127.0.0.1", srv.port)
      try {
        s.setSoTimeout(10000)
        s.getOutputStream.write(
          s"GET $path HTTP/1.1\r\nHost: t\r\nConnection: close\r\n\r\n"
            .getBytes("ISO-8859-1"))
        s.getOutputStream.flush()
        val all = new String(s.getInputStream.readAllBytes(), "UTF-8")
        val status = all.split(" ", 3)(1).toInt
        (status, all.substring(all.indexOf("\r\n\r\n") + 4))
      } finally s.close()
    }
    Seq("/api/v1/data/datasets/era5_sample/point?lat=%zz&lon=0",
        "/stac/collections/%00",
        "/api/v1/data/datasets/era5_sample/point?lat=%&lon=%1").foreach { p =>
      val (status, body) = rawGet(p)
      assert(Set(400, 404, 422, 500).contains(status), s"$p -> $status")
      // the JDK layer may reject the URI itself with its own 400 page;
      // anything OUR handler answered must be the JSON error contract
      if (status != 400)
        assert(body.startsWith("{") && body.contains("\"detail\""),
          s"$p -> non-contract body '${body.take(60)}'")
    }
    // raw-socket malformed HTTP: bad request lines, binary garbage,
    // header floods, half-requests slammed shut — the JDK server layer
    // owns these; the property is that none of it wedges the service
    (0 until 40).foreach { i =>
      val s = new java.net.Socket("127.0.0.1", srv.port)
      try {
        val out = s.getOutputStream
        i % 5 match {
          case 0 => out.write("GARBAGE /\r\n\r\n".getBytes("UTF-8"))
          case 1 => out.write(Array.fill(256)(rnd.nextInt(256).toByte))
          case 2 => out.write(("GET / HTTP/1.1\r\n" +
            (0 until 200).map(j => s"X-H$j: v\r\n").mkString + "\r\n").getBytes("UTF-8"))
          case 3 => out.write("GET /api".getBytes("UTF-8")) // half a request line
          case _ => () // connect-and-slam
        }
        out.flush()
      } catch { case _: java.io.IOException => () } // server may RST; fine
      finally s.close()
    }
    // the service is intact afterwards: data route and health both answer
    val ok = get("/api/v1/data/datasets/era5_sample/point?lat=10&lon=20")
    assert(ok.statusCode() == 200 && ok.body().contains("\"data\""))
    assert(get("/health").statusCode() == 200)
  }

  test("row payloads render exactly as Dataset.toJSON renders them") {
    import org.apache.spark.sql.functions._
    val df = grid.orderBy("ts", "lat", "lon").limit(50)
      .withColumn("day", to_date(col("ts")))
      .withColumn("maybe", when(col("lon") > 0, col("temperature")))
      .withColumn("label", concat(lit("a\"b\\c\n\u00e9 "), col("lon").cast("string")))
      .withColumn("pair", struct(col("lat"), array(col("lon"), lit(Double.NaN))))
    val expected = df.toJSON.collect().toSeq
    assert(org.apache.spark.sql.graft.Bridge.jsonRows(df).collect().toSeq == expected)
    assert(expected.exists(_.contains("\"maybe\"")) && expected.exists(!_.contains("\"maybe\"")))
  }

  test("cache hits over one keep-alive connection answer without a delayed-ACK stall") {
    // a response written as two segments (headers, body) with Nagle on
    // waits ~40 ms for the client's delayed ACK on every second request
    // of a connection; HttpURLConnection reuses one keep-alive socket
    val path = "/api/v1/data/datasets/era5_sample/point?lat=-12.0&lon=141.0"
    def timedGet(): Double = {
      val t0 = System.nanoTime()
      val c = URI.create(s"http://127.0.0.1:${srv.port}$path").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 200)
      val in = c.getInputStream
      try in.readAllBytes() finally in.close()
      (System.nanoTime() - t0) / 1e6
    }
    timedGet() // computes and caches
    val hits = Seq.fill(20)(timedGet()).sorted
    val median = (hits(9) + hits(10)) / 2
    assert(median < 20.0, s"median cache hit $median ms; all: ${hits.mkString(", ")}")
  }

  test("unknown path 404s; non-GET is a 405") {
    assert(get("/api/v2/whatever").statusCode() == 404)
    val post = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}/health"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(post.statusCode() == 405)
  }
}
