package graft.serve

import graft.SparkSpec
import graft.model.SeriesSpec
import graft.bench.Meter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** P4 serving path: nearest-cell selection snaps to the STORED
  * coordinates (one cached probe job per dataset collects each axis's
  * distinct values; every request after it is a driver-side search, on
  * regular and irregular grids alike) and the steady-state job count.
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

  private def irregularGrid = {
    val rows = for {
      t <- 0 until 3
      la <- Seq(-10.0, 0.0, 3.0, 50.0) // uneven spacing
      lo <- Seq(0.0, 10.0, 20.0)       // even
    } yield (java.sql.Timestamp.valueOf(s"2020-01-0${t + 1} 00:00:00"), la, lo, la + lo)
    rows.toDF("time", "lat", "lon", "v")
  }

  test("gridMeta: regular ladders detected; snap == scan-based nearest") {
    val g = regularGrid
    def scanNearest(c: String, v: Double): Double =
      g.select(col(c)).distinct().orderBy(abs(col(c) - v), col(c))
        .head().getDouble(0)
    // interior, exact-cell, out-of-range (clamps), and tie probes
    for (p <- Seq(-4.43, -3.0, -2.62, -99.0, 99.0, -4.375 /* tie */ ))
      assert(Api.nearestCell(g, p, 100.25)._1 == scanNearest("lat", p), s"lat probe $p")
    for (p <- Seq(100.3, 101.99, 0.0, 200.0, 100.375 /* tie */ ))
      assert(Api.nearestCell(g, 0.0, p)._2 == scanNearest("lon", p), s"lon probe $p")
    // tie goes to the SMALLER coordinate, matching orderBy(abs, c)
    assert(Api.nearestCell(g, -4.375, 100.25)._1 == -4.5)
  }

  test("gridMeta: symmetric ladders (±v pairs) are still regular") {
    // lat -85..85 step 10 has v/-v pairs whose SQUARES collide; the
    // snap must keep both of each pair
    val rows = for (la <- -85 to 85 by 10; lo <- 0 to 40 by 10)
      yield (la.toDouble, lo.toDouble, 1.0)
    val g = rows.toDF("lat", "lon", "v")
    assert(Api.nearestCell(g, 10.3, 0.0)._1 == 15.0)
  }

  test("gridMeta: moment-matching impostor ladder is NOT certified regular") {
    // {0, x, 1.5, 3−x', 4} with x = 1.3486122…, x' chosen so Σv = 10 and
    // Σv² = 30 — the exact first two moments of the AP {0,1,2,3,4}. An
    // arithmetic snap from count, extent and moments would return
    // coordinates that don't exist; the snap must land on a stored one.
    // x² + (4.5−x)² = 11.75 ⇒ 2x² − 9x + 8.5 = 0 ⇒ x = (9 − √13)/4
    val x = (9.0 - math.sqrt(13.0)) / 4
    val y = 4.5 - x
    val lats = Seq(0.0, x, 1.5, y, 4.0)
    val sq = lats.map(v => v * v).sum
    // the moments collide to machine precision
    assert(math.abs(lats.sum - 10.0) < 1e-12)
    assert(math.abs(sq - 30.0) < 1e-12, s"fixture moment drift: $sq")
    val rows = for (la <- lats; lo <- Seq(0.0, 10.0, 20.0)) yield (la, lo, 1.0)
    val g = rows.toDF("lat", "lon", "v")
    assert(Api.nearestCell(g, 1.0, 8.0) == ((x, 10.0)), "the snap finds the true cell")
  }

  test("gridMeta: irregular axis detected; nearestCell falls back to the scan") {
    val g = irregularGrid
    // the snap selects the true nearest cell on the uneven axis too
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

  /** Rows of a warm pointSeries request on `grid`, and the Spark jobs
    * it ran, counted per job group with the Meter's read barrier.
    */
  private def warmRequest(grid: DataFrame, lat: Double, lon: Double)
      : (Array[Row], Double) = {
    val g = grid.cache()
    g.count() // materialize so the serving scan is one stage
    val spec = SeriesSpec("time", Seq("lat", "lon"), "v")
    // warm the ladder cache (the first request pays the one probe job)
    Api.invalidateGridMeta()
    Api.nearestCell(g, 0.0, 0.0)
    val counter = new Meter.SparkCounter(spark.sparkContext)
    val group = s"ApiSpec-warm-${java.util.UUID.randomUUID()}"
    try {
      spark.sparkContext.setJobGroup(group, group)
      val rows = try Api.pointSeries(g, spec, lat, lon).collect()
        finally spark.sparkContext.clearJobGroup()
      (rows, counter.read()(group).jobs)
    } finally {
      counter.close()
      g.unpersist()
    }
  }

  test("pointSeries on a regular grid: correct cell, one job per warm request") {
    val (rows, jobs) = warmRequest(regularGrid, lat = -2.62, lon = 100.3)
    // steady-state serving: ONLY the series scan runs — no per-request
    // coordinate-distinct jobs
    assert(jobs == 1, s"expected exactly one job, saw $jobs")
    assert(rows.length == 3)
    assert(rows.forall(r => r.getDouble(1) == -2.5 && r.getDouble(2) == 100.25))
  }

  test("pointSeries on an irregular grid: correct cell, one job per warm request") {
    val (rows, jobs) = warmRequest(irregularGrid, lat = 2.0, lon = 8.0)
    assert(jobs == 1, s"expected exactly one job, saw $jobs")
    assert(rows.length == 3)
    assert(rows.forall(r => r.getDouble(1) == 3.0 && r.getDouble(2) == 10.0))
  }
}
