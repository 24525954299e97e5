package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ingest.{BBox, GridSink, LayoutPlanner, NetCdf}
import graft.model.SeriesSpec
import graft.serve.{Api, Cache, Routes, Server}
import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._
import scala.util.Random

/** `api`: the HTTP server over a converted grid store.
  *
  * Set-up: seeded daily grid arrays → `NetCdf.write` → `NetCdf.read` →
  * `LayoutPlanner.plan(Timeseries)` → `GridSink.writeGrid` →
  * `GridSink.openStore` → `Server.start`, then untimed warm-up.
  * Timed: an open loop of fresh keys at a fixed rate (p50/tail), then a
  * closed loop at `nproc` connections (work_per_s). Traced runs add an
  * open loop of repeats the cache serves (the HTTP and cache layers).
  * Every 200 body is checked against the arrays the grid was written from.
  */
object ApiBench {

  // grid: two years of daily steps on a 10° grid, two variables
  val Steps = 731
  val NLat = 18
  val NLon = 36
  val Lats: Array[Double] = Array.tabulate(NLat)(i => -85.0 + 10.0 * i)
  val Lons: Array[Double] = Array.tabulate(NLon)(j => -175.0 + 10.0 * j)
  val Epoch: java.time.LocalDate = java.time.LocalDate.of(2000, 1, 1)
  val Dataset = "era5"

  /** Shares of the timed budget: cold open loop, then cold closed loop. */
  val OpenShare = 0.8
  val ClosedShare = 0.2
  /** Open-loop arrival rates (req/s), well under the closed-loop capacity
    * at 4 connections on a 4-core host (3.5 to 7 cold req/s as the host's
    * CPU steal varies, about 90 cached): at 2 req/s a host losing a
    * quarter of its CPU to steal nears capacity and queueing tripled the
    * median; at 1.75 it stays at half of it.
    */
  val ColdRate = 1.75
  val HotRate = 40.0
  /** Cached reads of a traced run. */
  val HotRequests = 150
  /** The cold route deck: every route class once, shuffled per deck, so
    * each class keeps a tenth of the cold requests whatever the seed. The
    * slowest class (anomaly) holds less than the share beyond the tail;
    * the median and the tail fall among the middle routes.
    */
  val ColdDeck: Seq[String] = Seq(
    "point", "point_range", "region", "stats", "metric_monthly",
    "metric_climatology", "metric_percentiles", "metric_trend",
    "metric_trend_sig", "metric_anomaly")
  /** Untimed fresh-key requests before timing: JIT and codegen settle.
    * After 20, cold latencies still fell by a quarter over the timed phase.
    */
  val WarmRequests = 40
  /** Popularity of the cached reads over the keys already computed. */
  val ZipfS = 1.1

  private val json = new ObjectMapper()

  /** Deterministic grid values from the seed (splitmix64 noise). */
  final class Grid(seed: Long) {
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    private def unif(k: Long): Double = (mix(seed * 0x632BE59BD9B4E019L + k) >>> 11) / 9007199254740992.0

    val t2m: Array[Double] = new Array[Double](Steps * NLat * NLon)
    val pr: Array[Double] = new Array[Double](Steps * NLat * NLon)
    locally {
      var t = 0
      while (t < Steps) {
        val doy = Epoch.plusDays(t).getDayOfYear
        val season = 10.0 * math.sin(2 * math.Pi * (doy - 80) / 365.25)
        var i = 0
        while (i < NLat) {
          val base = 288.0 - 40.0 * math.abs(Lats(i)) / 90.0 + season
          var j = 0
          while (j < NLon) {
            val k = idx(t, i, j)
            val n = unif(3L * k) + unif(3L * k + 1) + unif(3L * k + 2) - 1.5
            t2m(k) = base + 0.002 * t + 2.0 * n
            pr(k) = -0.001 * math.log(1.0 - unif(3L * k + 2))
            j += 1
          }
          i += 1
        }
        t += 1
      }
    }
    def idx(t: Int, i: Int, j: Int): Int = (t * NLat + i) * NLon + j
  }

  /** Nearest ladder index the server's snap picks (ties toward the smaller). */
  def snap(v: Double, ladder: Array[Double]): Int = {
    val p = (v - ladder(0)) / (ladder(1) - ladder(0))
    math.min(ladder.length - 1, math.max(0, math.ceil(p - 0.5).toInt))
  }

  private def day(ts: String): Int =
    java.time.temporal.ChronoUnit.DAYS.between(Epoch,
      java.time.LocalDate.parse(ts.take(10))).toInt

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** One request key: route class, point, optional time range and bbox. */
  final case class Key(cls: String, lat: Double, lon: Double,
                       range: Option[(Int, Int)], bbox: Option[BBox]) {
    private def date(t: Int) = Epoch.plusDays(t).toString
    private def rangeQ = range.fold("") { case (a, b) =>
      s"&start_date=${date(a)}&end_date=${date(b)}" }
    private def bboxQ = bbox.fold("") { b =>
      f"&min_lon=${b.west}%.6f&min_lat=${b.south}%.6f&max_lon=${b.east}%.6f&max_lat=${b.north}%.6f" }
    private def pointQ = f"lat=$lat%.6f&lon=$lon%.6f"
    private def rounded(v: Double) = f"$v%.6f".toDouble
    // the server sees the 6-decimal rendering of the coordinates
    def qLat: Double = rounded(lat)
    def qLon: Double = rounded(lon)
    def qBox: Option[BBox] = bbox.map(b => BBox(rounded(b.west),
      rounded(b.south), rounded(b.east), rounded(b.north)))

    def path: String = {
      val ds = s"/api/v1/data/datasets/$Dataset"
      val mt = s"/api/v1/metrics"
      cls match {
        case "point" | "point_range" => s"$ds/point?$pointQ$rangeQ"
        case "region" => s"$ds/region?${bboxQ.drop(1)}"
        case "stats" => s"$ds/stats?${bboxQ.drop(1)}$rangeQ"
        case "metric_monthly" => s"$mt/temporal/$Dataset?metric=monthly&$pointQ"
        case "metric_climatology" => s"$mt/temporal/$Dataset?metric=climatology&$pointQ"
        case "metric_percentiles" => s"$mt/percentiles/$Dataset?$pointQ"
        case "metric_trend" => s"$mt/trend/$Dataset?$pointQ"
        case "metric_trend_sig" => s"$mt/trend/$Dataset?significance=true&$pointQ"
        case "metric_anomaly" => s"$mt/anomaly/$Dataset?$pointQ"
      }
    }

    def metric: Option[String] = cls match {
      case "metric_trend_sig" => Some("trend_significance")
      case c if c.startsWith("metric_") => Some(c.stripPrefix("metric_"))
      case _ => None
    }

    /** Check a 200 body against the generating arrays. */
    def check(g: Grid)(body: String): Boolean = {
      val data = json.readTree(body).get("data")
      val rows: Seq[JsonNode] = data.elements().asScala.toSeq
      lazy val (ci, cj) = (snap(qLat, Lats), snap(qLon, Lons))
      lazy val (t0, t1) = range.getOrElse((0, Steps - 1))
      lazy val cells = qBox.toSeq.flatMap { b =>
        for (i <- Lats.indices if Lats(i) >= b.south && Lats(i) <= b.north;
             j <- Lons.indices if Lons(j) >= b.west && Lons(j) <= b.east)
        yield (i, j)
      }
      def value(r: JsonNode): Double = r.get("t2m").asDouble
      cls match {
        case "point" | "point_range" =>
          rows.length == t1 - t0 + 1 && rows.zipWithIndex.forall { case (r, k) =>
            day(r.get("time").asText) == t0 + k &&
              near(r.get("lat").asDouble, Lats(ci)) &&
              near(r.get("lon").asDouble, Lons(cj)) &&
              near(value(r), g.t2m(g.idx(t0 + k, ci, cj)))
          }
        case "region" =>
          rows.length == math.min(Api.MaxPointsPerRequest, cells.length * Steps) &&
            rows.forall { r =>
              val i = snap(r.get("lat").asDouble, Lats)
              val j = snap(r.get("lon").asDouble, Lons)
              cells.contains((i, j)) &&
                near(value(r), g.t2m(g.idx(day(r.get("time").asText), i, j)))
            }
        case "stats" =>
          val vs = for ((i, j) <- cells; t <- t0 to t1) yield g.t2m(g.idx(t, i, j))
          rows.length == 1 && rows.head.get("n").asLong == vs.length &&
            near(rows.head.get("mean").asDouble, vs.sum / vs.length)
        case "metric_monthly" =>
          val byMonth = (0 until Steps).groupBy(t => Epoch.plusDays(t).toString.take(7))
          rows.length == byMonth.size && rows.forall { r =>
            val ts = byMonth(r.get("month").asText.take(7))
            near(r.get("mean_value").asDouble,
              ts.map(t => g.t2m(g.idx(t, ci, cj))).sum / ts.length)
          }
        case "metric_climatology" => rows.length == 12
        case "metric_percentiles" =>
          rows.length == 12 * graft.metrics.Percentiles.DefaultPercentiles.length
        case "metric_trend" | "metric_trend_sig" => rows.length == 1
        case "metric_anomaly" => rows.length == Steps
      }
    }
  }

  private def randomKey(cls: String, rnd: Random): Key = {
    def lat = Lats.head + rnd.nextDouble() * (Lats.last - Lats.head)
    def lon = Lons.head + rnd.nextDouble() * (Lons.last - Lons.head)
    // bounded boxes of about 20° × 15°, edges off the 5° lattice
    def box = {
      val w = -180.0 + rnd.nextDouble() * 335.0
      val s = -90.0 + rnd.nextDouble() * 160.0
      BBox(west = w, south = s, east = w + 19.0 + rnd.nextDouble() * 2,
        north = s + 14.0 + rnd.nextDouble() * 2)
    }
    def range = {
      val a = rnd.nextInt(Steps - 200)
      Some((a, a + 60 + rnd.nextInt(120)))
    }
    cls match {
      case "point" => Key(cls, lat, lon, None, None)
      case "point_range" => Key(cls, lat, lon, range, None)
      case "region" =>
        // region extracts stay under the 10,000-point cap: 1 to 4 cells
        val w = -180.0 + rnd.nextDouble() * 349.0
        val s = -90.0 + rnd.nextDouble() * 169.0
        Key(cls, 0, 0, None, Some(BBox(w, s, w + 10.5, s + 10.5)))
      case "stats" => Key(cls, 0, 0, if (rnd.nextBoolean()) range else None, Some(box))
      case _ => Key(cls, lat, lon, None, None)
    }
  }

  /** Direct call of the same Api/Routes function the route runs, returning
    * its DataFrame and the server's row cap.
    */
  private def direct(c: Ctx, store: DataFrame, spec: SeriesSpec, k: Key): (DataFrame, Int) = {
    def iso(r: Option[(Int, Int)]) = r.map { case (a, b) =>
      (Epoch.plusDays(a).toString, Epoch.plusDays(b).toString) }
    k.cls match {
      case "point" | "point_range" =>
        (Api.pointSeries(store, spec, k.qLat, k.qLon, iso(k.range)), Api.MaxTimeSteps)
      case "region" => (Api.regionData(store, spec, k.qBox.get), Api.MaxPointsPerRequest)
      case "stats" =>
        (Api.regionStats(store, spec, k.qBox.get, iso(k.range)), Api.MaxPointsPerRequest)
      case _ =>
        val req = Routes.MetricRequest(Dataset, k.metric.get, Some(k.qLat), Some(k.qLon))
        val df = Routes.metricRoute(c.spark, Map(Dataset -> (store, spec)), req)
          .fold(e => sys.error(e.message), identity)
        (df, Api.MaxPointsPerRequest)
    }
  }

  /** Execute a route DataFrame the way the server does (capped, JSON rows,
    * local iterator).
    */
  private def execute(df: DataFrame, cap: Int): Unit = {
    val it = df.limit(cap).toJSON.toLocalIterator()
    while (it.hasNext) it.next()
  }

  import Report.{mean, median, secs}

  def run(c: Ctx): Report = {
    val report = new Report("api")
    val rnd = new Random(c.seed)
    report.mark("session")
    val g = new Grid(c.seed)

    // ---- ingest: NetCDF file → planned parquet store
    val nc = c.path("grid.nc")
    val ncWrite = secs(NetCdf.write(nc,
      dims = Seq(NetCdf.Dim("time", Steps), NetCdf.Dim("lat", NLat), NetCdf.Dim("lon", NLon)),
      vars = Seq(
        (NetCdf.VarDef("time", Seq("time"), NetCdf.NcDouble,
          Seq("units" -> "days since 2000-01-01")), Array.tabulate(Steps)(_.toDouble)),
        (NetCdf.VarDef("lat", Seq("lat"), NetCdf.NcDouble), Lats),
        (NetCdf.VarDef("lon", Seq("lon"), NetCdf.NcDouble), Lons),
        (NetCdf.VarDef("t2m", Seq("time", "lat", "lon"), NetCdf.NcDouble,
          Seq("units" -> "K")), g.t2m),
        (NetCdf.VarDef("pr", Seq("time", "lat", "lon"), NetCdf.NcDouble,
          Seq("units" -> "m")), g.pr))))
    val storePath = c.path("grid.parquet")
    val convert = secs {
      val raw = NetCdf.read(c.spark, nc, Seq("t2m", "pr"))
      val layout = LayoutPlanner.plan(raw.schema, LayoutPlanner.Timeseries,
        Seq("lat", "lon"), "time")
      GridSink.writeGrid(raw, storePath, layout)
    }
    val info = GridSink.storeInfo(c.spark, storePath)
    val values = Steps.toLong * NLat * NLon * 2
    report.check(info.nRows == Steps.toLong * NLat * NLon,
      s"store holds ${info.nRows} rows, expected ${Steps.toLong * NLat * NLon}")
    report.layers("ingest.bytes_per_value") = info.totalBytes.toDouble / values
    report.layers("ingest.nc_write_s") = ncWrite
    report.layers("ingest.convert_s") = convert
    report.layers("ingest.convert_rows_per_s") = info.nRows / convert
    report.layers("ingest.store_files") = info.nFiles.toDouble
    report.layers("ingest.store_row_groups") = StoreLayout.rowGroups(c.spark, storePath)
    report.mark("fixture")
    val store = GridSink.openStore(c.spark, storePath)
    val spec = SeriesSpec("time", Seq("lat", "lon"), "t2m")
    val srv = Server.start(c.spark, Map(Dataset -> (store, spec)))
    try {
      val gen = new LoadGen(srv.port, c.cores, System.nanoTime())
      def req(k: Key) = Req(k.cls, k.path, k.check(g))
      // fresh keys, one shuffled deck after another
      def coldKeys(n: Int): IndexedSeq[Key] =
        Iterator.continually(rnd.shuffle(ColdDeck)).flatten.take(n)
          .map(randomKey(_, rnd)).toIndexedSeq

      // ---- warm-up, untimed: codegen and the grid-metadata memo settle
      val w = gen.openLoop("warmup", coldKeys(WarmRequests).map(req), rate = 1e6,
        from = System.nanoTime())
      report.check(w.forall(_.ok), s"warm-up: ${w.count(!_.ok)} of ${w.length} requests failed")

      // ---- timed: cold open loop, then cold closed loop
      // whole decks only, so the class mix never depends on the seed
      val decks = math.max(1, (c.seconds * OpenShare * ColdRate / ColdDeck.length).toInt)
      val openKeys = coldKeys(decks * ColdDeck.length)
      // closed-loop keys drawn ahead, so the run's inputs follow the seed
      val closedKeys = coldKeys(math.ceil(c.seconds * 30).toInt)
      val cache0 = srv.cacheStats()
      val phase = new Phase(c.counters)
      report.mark("warmup")
      val start = System.nanoTime()
      val open = gen.openLoop("open", openKeys.map(req), ColdRate, from = start)
      val closedFrom = System.nanoTime()
      val closed = gen.closedLoop("closed", i => req(closedKeys(i)),
        math.max(start + (c.seconds * 1e9).toLong,
          closedFrom + (c.seconds * ClosedShare * 0.5e9).toLong))
      val res = phase.end()
      val cache1 = srv.cacheStats()
      report.ops ++= open ++ closed
      report.scalars("closed_from_s") = gen.sec(closedFrom)
      // the phase's counters are per cold request: every one computes
      val computed = cache1.misses - cache0.misses
      report.record(res, computed)
      report.layers("serve.cache.computes_per_req") =
        computed.toDouble / (open.length + closed.length)

      // ---- traced: cached reads, then the same functions without HTTP
      if (c.trace) {
        // Zipf popularity over the keys the cold phases computed
        val served = openKeys ++ closedKeys.take(closed.length)
        val zipfCdf = {
          val wts = (1 to served.length).map(r => 1.0 / math.pow(r, ZipfS))
          wts.scanLeft(0.0)(_ + _).tail.map(_ / wts.sum)
        }
        val popular = rnd.shuffle(served)
        val hotKeys = IndexedSeq.fill(HotRequests)(
          popular(zipfCdf.indexWhere(_ >= rnd.nextDouble()) max 0))
        val hot = gen.openLoop("hot", hotKeys.map(req), HotRate, from = System.nanoTime())
        val cache2 = srv.cacheStats()
        report.ops ++= hot
        report.layers("serve.cache.hit_ratio") = (cache2.hits - cache1.hits).toDouble /
          math.max(1L, cache2.hits - cache1.hits + cache2.misses - cache1.misses)
        // the cache layer alone: hits on a private cache holding the
        // bodies the server served
        val cache = new Cache.ResilientCache(new Cache.LruBackend(1024, 3600))
        val bodies = popular.take(64).map(k => k.path -> gen.get(k.path)._2)
        bodies.foreach { case (p, b) => cache.getOrCompute(p)(b) }
        val lookups = (0 until 2000).map { i =>
          val (p, b) = bodies(i % bodies.length)
          secs { cache.getOrCompute(p)(b); () }
        }
        // means, not medians: cached reads alternate between two latency
        // modes, and a median sits on the edge between them
        report.layers("serve.http_s") =
          mean(hot.map(o => o.end - o.intended)) - mean(lookups)
        val timed = ColdDeck.flatMap(cls => Seq.fill(2)(randomKey(cls, rnd))).map { k =>
          var df: DataFrame = null
          var cap = 0
          val plan = secs { val (d, n) = direct(c, store, spec, k); df = d; cap = n }
          (plan, secs(execute(df, cap)))
        }
        report.layers("api.plan_s") = median(timed.map(_._1))
        report.layers("api.exec_s") = median(timed.map(_._2))
      }
      report
    } finally srv.stop()
  }
}
