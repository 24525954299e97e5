package graft.serve

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized nearest-cell parity: the snap to the stored coordinates
  * (a binary search over each axis's distinct values) must land on the
  * naive definition — the distinct coordinate minimizing (|c − v|, c) —
  * on regular and irregular ladders alike, including EXACT midpoint
  * queries (the tie goes to the smaller coordinate) and out-of-extent
  * queries (clamped to the edge cells). All coordinates and queries are
  * dyadic (multiples of 1/8) so midpoints are bit-exact — the parity is
  * semantic, not tolerance.
  */
class NearestFuzzSpec extends SparkSpec {

  private def naiveNearest(coords: Seq[Double], v: Double): Double =
    coords.minBy(c => (math.abs(c - v), c))

  private def grid(lats: Seq[Double], lons: Seq[Double]) = {
    import spark.implicits._
    (for { la <- lats; lo <- lons } yield (la, lo, la + lo))
      .toDF("lat", "lon", "value")
  }

  test("regular-grid snap path matches the naive definition incl. midpoint ties") {
    val rnd = new scala.util.Random(20260816L)
    (0 until 4).foreach { round =>
      val res = Seq(0.25, 0.5, 1.0, 2.0)(round)
      val latMin = rnd.nextInt(40) - 60.0
      val lonMin = rnd.nextInt(80) - 120.0
      val nlat = 1 + rnd.nextInt(10)
      val nlon = 2 + rnd.nextInt(10)
      val lats = (0 until nlat).map(latMin + _ * res)
      val lons = (0 until nlon).map(lonMin + _ * res)
      val df = grid(lats, lons)
      val queries =
        Seq(latMin - 5.0, latMin + (nlat - 1) * res + 5.0) ++ // beyond extent
        (0 until 8).map(_ => latMin + (rnd.nextInt(8 * nlat) / 8.0) * res) ++
        (0 until math.min(3, nlat - 1)).map(i => latMin + (i + 0.5) * res) // exact midpoints
      queries.foreach { q =>
        val lonQ = lonMin + (rnd.nextInt(8 * nlon) / 8.0) * res
        val (gotLat, gotLon) = Api.nearestCell(df, q, lonQ)
        assert(gotLat == naiveNearest(lats, q),
          s"round $round: snap lat for $q got $gotLat, want ${naiveNearest(lats, q)}")
        assert(gotLon == naiveNearest(lons, lonQ),
          s"round $round: snap lon for $lonQ got $gotLon, want ${naiveNearest(lons, lonQ)}")
      }
    }
  }

  test("irregular-ladder scan path matches the naive definition incl. ties") {
    val rnd = new scala.util.Random(20260816L)
    (0 until 3).foreach { round =>
      // random dyadic coords with uneven gaps
      def ladder(n: Int, lo: Int): Seq[Double] =
        Seq.fill(n + 4)(lo + rnd.nextInt(64) / 8.0 * 3).distinct.sorted
      val lats = ladder(6 + round, -40)
      val lons = ladder(8, -20)
      val df = grid(lats, lons)
      (0 until 10).foreach { _ =>
        // queries include exact midpoints of adjacent irregular coords
        // (dyadic, so (a+b)/2 is exact) and out-of-extent values
        val qLat =
          if (rnd.nextBoolean() && lats.length > 1) {
            val i = rnd.nextInt(lats.length - 1)
            (lats(i) + lats(i + 1)) / 2
          } else lats.head - 3 + rnd.nextInt(96) / 8.0
        val qLon = lons(rnd.nextInt(lons.length)) + (rnd.nextInt(17) - 8) / 8.0
        val (gotLat, gotLon) = Api.nearestCell(df, qLat, qLon)
        assert(gotLat == naiveNearest(lats, qLat),
          s"round $round: scan lat for $qLat got $gotLat, want ${naiveNearest(lats, qLat)}")
        assert(gotLon == naiveNearest(lons, qLon),
          s"round $round: scan lon for $qLon got $gotLon, want ${naiveNearest(lons, qLon)}")
      }
    }
  }
}
