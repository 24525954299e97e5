package graft.serve

import graft.SparkSpec
import graft.model.SeriesSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** P4 serving path: metadata-snap nearest-cell selection (regular grids
  * snap arithmetically from a one-job geometry probe; irregular grids
  * fall back to the distinct+sort scan) and the steady-state job count.
  */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private def regularGrid = {
    // 0.25-degree-style ladders: lat 10 steps from -4.5, lon 8 from 100.25
    val lats = (0 until 10).map(i => -4.5 + i * 0.25)
    val lons = (0 until 8).map(j => 100.25 + j * 0.25)
    val rows = for {
      t <- 0 until 3; la <- lats; lo <- lons
    } yield (java.sql.Timestamp.valueOf(s"2020-01-0${t + 1} 00:00:00"),
      la, lo, t * 1000.0 + la * 10 + lo)
    rows.toDF("time", "lat", "lon", "v")
  }

  test("gridMeta: regular ladders detected; snap == scan-based nearest") {
    val g = regularGrid
    val meta = Api.gridMeta(g)
    assert(meta.lat.regular && meta.lon.regular)
    assert(meta.lat.n == 10 && meta.lon.n == 8)
    assert(math.abs(meta.lat.res - 0.25) < 1e-12)
    def scanNearest(c: String, v: Double): Double =
      g.select(col(c)).distinct().orderBy(abs(col(c) - v), col(c))
        .head().getDouble(0)
    // interior, exact-cell, out-of-range (clamps), and tie probes
    for (p <- Seq(-4.43, -3.0, -2.62, -99.0, 99.0, -4.375 /* tie */ ))
      assert(meta.lat.snap(p).contains(scanNearest("lat", p)), s"lat probe $p")
    for (p <- Seq(100.3, 101.99, 0.0, 200.0, 100.375 /* tie */ ))
      assert(meta.lon.snap(p).contains(scanNearest("lon", p)), s"lon probe $p")
    // tie goes to the SMALLER coordinate, matching orderBy(abs, c)
    assert(meta.lat.snap(-4.375).contains(-4.5))
  }

  test("gridMeta: symmetric ladders (±v pairs) are still regular") {
    // lat -85..85 step 10 has v/-v pairs whose SQUARES collide — the
    // moment probe must not collapse them (regression: sum_distinct(v²))
    val rows = for (la <- -85 to 85 by 10; lo <- 0 to 40 by 10)
      yield (la.toDouble, lo.toDouble, 1.0)
    val g = rows.toDF("lat", "lon", "v")
    val meta = Api.gridMeta(g)
    assert(meta.lat.regular && meta.lat.n == 18 && meta.lat.res == 10.0)
    assert(meta.lat.snap(10.3).contains(15.0))
  }

  test("gridMeta: moment-matching impostor ladder is NOT certified regular") {
    // {0, x, 1.5, 3−x', 4} with x = 1.3486122…, x' chosen so Σv = 10 and
    // Σv² = 30 — the exact first two moments of the AP {0,1,2,3,4}. The
    // moment probe alone cannot tell them apart (a one-parameter family
    // of such sets exists for n ≥ 5); the lattice-deviation certificate
    // must reject it, or snap() would return coordinates that don't exist.
    // x² + (4.5−x)² = 11.75 ⇒ 2x² − 9x + 8.5 = 0 ⇒ x = (9 − √13)/4
    val x = (9.0 - math.sqrt(13.0)) / 4
    val y = 4.5 - x
    val lats = Seq(0.0, x, 1.5, y, 4.0)
    val sq = lats.map(v => v * v).sum
    // moments collide to machine precision, INSIDE the probe's 1e-9
    // tolerance — only the lattice certificate can reject this ladder
    assert(math.abs(lats.sum - 10.0) < 1e-12)
    assert(math.abs(sq - 30.0) < 1e-12, s"fixture moment drift: $sq")
    val rows = for (la <- lats; lo <- Seq(0.0, 10.0, 20.0)) yield (la, lo, 1.0)
    val g = rows.toDF("lat", "lon", "v")
    val meta = Api.gridMeta(g)
    assert(!meta.lat.regular, "impostor ladder must not certify as regular")
    assert(meta.lon.regular)
    assert(Api.nearestCell(g, 1.0, 8.0) == ((x, 10.0)), "scan fallback finds the true cell")
  }

  test("gridMeta: irregular axis detected; nearestCell falls back to the scan") {
    val rows = for {
      la <- Seq(-10.0, 0.0, 3.0, 50.0) // uneven spacing
      lo <- Seq(0.0, 10.0, 20.0)       // even
    } yield (la, lo, la + lo)
    val g = rows.toDF("lat", "lon", "v")
    val meta = Api.gridMeta(g)
    assert(!meta.lat.regular, "uneven lat ladder must not be treated as regular")
    assert(meta.lon.regular)
    assert(meta.lat.snap(2.0).isEmpty)
    // fallback still selects the true nearest cell
    assert(Api.nearestCell(g, 2.0, 8.0) == ((3.0, 10.0)))
    assert(Api.nearestCell(g, -6.0, 25.0) == ((-10.0, 20.0)))
  }

  test("geometry cache hits across separately-built plans over the same files") {
    val dir = tmpDir() + "/gridpq"
    regularGrid.write.parquet(dir)
    Api.invalidateGridMeta()
    val before = Api.probeCount
    // two INDEPENDENT reads + identical derivations: canonicalized-plan
    // equality must dedupe them into one probe (the bench/serving shape:
    // every request rebuilds the frame from the catalog)
    def build() = spark.read.parquet(dir).withColumn("lat2", col("lat") * 1.0)
    Api.nearestCell(build(), 0.0, 0.0)
    Api.nearestCell(build(), 1.0, 1.0)
    assert(Api.probeCount == before + 1,
      s"expected one probe for two identical plans, ran ${Api.probeCount - before}")
  }

  test("concurrent first requests on a dataset run the geometry probe once") {
    val dir = tmpDir() + "/gridpq"
    regularGrid.write.parquet(dir)
    Api.invalidateGridMeta()
    val before = Api.probeCount
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 4).map { i =>
      val t = new Thread(() => {
        start.await()
        Api.cellFilter(spark.read.parquet(dir), i * 0.5, 100.0 + i * 0.25)
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(Api.probeCount == before + 1,
      s"expected one probe for four concurrent first requests, ran ${Api.probeCount - before}")
  }

  test("pointSeries on a regular grid: correct cell, one job per warm request") {
    val g = regularGrid.cache()
    g.count() // materialize so the serving scan is one stage
    val spec = SeriesSpec("time", Seq("lat", "lon"), "v")
    // warm the geometry cache (first request pays the one probe job)
    Api.invalidateGridMeta()
    Api.nearestCell(g, 0.0, 0.0)
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = Api.pointSeries(g, spec, lat = -2.62, lon = 100.3).collect()
      // listener delivery is async; give the bus a beat to drain
      Thread.sleep(300)
      // steady-state serving: ONLY the series scan runs — no per-request
      // coordinate-distinct jobs
      assert(jobs == 1, s"expected exactly one job, saw $jobs")
      assert(rows.length == 3)
      assert(rows.forall(r => r.getDouble(1) == -2.5 && r.getDouble(2) == 100.25))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
