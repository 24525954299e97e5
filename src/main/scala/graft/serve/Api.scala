package graft.serve

import graft.functions.TimeFns
import graft.ingest.{BBox, GridSource}
import graft.model.SeriesSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query-surface functions behind the REST layer (reference
  * `api/routes/data.py`, SURVEY.md A11/A12, P4, §2.9 limits).
  *
  * Serving caps mirror the reference (`api/main.py:98-102`): 10,000 points
  * and 8,760 time steps per request — enforced as `limit()` guards so a
  * misbehaving client cannot trigger an unbounded collect.
  *
  * Point routes snap to the nearest STORED latitude and longitude
  * ([[nearestCell]]). The first request on a dataset collects each axis's
  * distinct coordinates once; later requests search them on the driver
  * and run no Spark job before their own scan, on any grid.
  *
  * Request values enter the plans as literals (the snapped cell,
  * bbox edges, time bounds). Under [[Server]] they are bound, not inlined,
  * in the generated code of the post-scan filter: see
  * [[graft.plans.ServingPlans]]. The pushed parquet filters are planned
  * from the real literals and do not change. The server applies the
  * `limit()` caps as the root of the plan it renders, where Spark runs
  * them outside generated code; a limit inside a generated stage is new
  * source on every planning (Spark's `_limit_counter_N` names come from a
  * JVM-wide sequence).
  */
object Api {

  val MaxPointsPerRequest = 10000
  val MaxTimeSteps = 8760

  /** One dataset's ladders, probed at most once at a time: concurrent
    * first requests wait on the slot while the first runs the probe
    * (single-flight). A failed probe leaves the slot empty, so the next
    * request retries.
    */
  private final class LadderSlot {
    private var ladders: Ladders = _
    def get(probe: => Ladders): Ladders = synchronized {
      if (ladders == null) ladders = probe
      ladders
    }
  }

  /** Each axis's distinct stored coordinates, sorted ascending. */
  private final case class Ladders(lat: Array[Double], lon: Array[Double])

  /** Per-JVM ladder cache keyed by the CANONICALIZED logical plan
    * (structural equality — no hash-collision wrongness) + axis columns.
    * The ladders are immutable for a registered dataset: appending time
    * steps never changes them. If spatial tiles are added, call
    * [[invalidateGridMeta]].
    */
  private val metaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Any, String, String), LadderSlot](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Any, String, String), LadderSlot]): Boolean =
          size() > 128
      })

  def invalidateGridMeta(): Unit = metaCache.clear()

  private val probes = new java.util.concurrent.atomic.AtomicLong

  /** Ladder probes actually run (test observability for cache hits). */
  private[serve] def probeCount: Long = probes.get

  /** A dataset's ladders, probed by one job on a cache miss: explode both
    * coordinates into (axis, v) pairs, keep the distinct non-null,
    * non-NaN ones and collect them. The driver holds as many doubles as
    * the grid has distinct latitudes plus distinct longitudes, whatever
    * the length of the time axis: 18 + 36 on a 10° global grid, about
    * 54,000 on a 0.01° one.
    */
  private def cachedLadders(df: DataFrame, latCol: String, lonCol: String): Ladders = {
    val key = (df.queryExecution.logical.canonicalized, latCol, lonCol)
    metaCache.computeIfAbsent(key, _ => new LadderSlot).get {
      probes.incrementAndGet()
      val v = col("p.v")
      val pairs = df
        .select(explode(array(
          struct(lit(0).as("axis"), col(latCol).cast("double").as("v")),
          struct(lit(1).as("axis"), col(lonCol).cast("double").as("v")))).as("p"))
        .where(v.isNotNull && !isnan(v))
        .select(col("p.axis"), v)
        .distinct().collect()
      def axis(i: Int): Array[Double] = pairs
        .collect { case r if r.getInt(0) == i => r.getDouble(1) }
        .sorted(Ordering.Double.TotalOrdering)
      Ladders(axis(0), axis(1))
    }
  }

  /** The stored coordinate nearest to `v`, ties to the smaller one: the
    * first row of `orderBy(abs(c − v), c)` over the distinct coordinates.
    * Only the two neighbours of `v`'s insertion point can be nearest.
    */
  private def nearest(ladder: Array[Double], v: Double, c: String): Double = {
    if (ladder.isEmpty) throw new NoSuchElementException(s"no stored $c coordinates")
    val i = java.util.Arrays.binarySearch(ladder, v)
    if (i >= 0) ladder(i)
    else {
      val hi = -i - 1 // the first stored value above v
      if (hi == ladder.length ||
          hi > 0 && math.abs(ladder(hi - 1) - v) <= math.abs(ladder(hi) - v)) ladder(hi - 1)
      else ladder(hi)
    }
  }

  /** P4 — nearest grid cell to (lat, lon), per-axis like xarray
    * `sel(method="nearest")`: the nearest STORED lat and lon, ties toward
    * the smaller coordinate. After the dataset's first request (one probe
    * job), a binary search on the driver: no job, on any grid.
    */
  def nearestCell(df: DataFrame, lat: Double, lon: Double,
                  latCol: String = "lat", lonCol: String = "lon"): (Double, Double) = {
    val l = cachedLadders(df, latCol, lonCol)
    (nearest(l.lat, lat, latCol), nearest(l.lon, lon, lonCol))
  }

  /** P4 — time series at a point: snap to the nearest cell, then a
    * range filter that pushes down to the scan. Output capped at
    * [[MaxTimeSteps]] rows.
    */
  def pointSeries(
      df: DataFrame,
      spec: SeriesSpec,
      lat: Double,
      lon: Double,
      timeRange: Option[(String, String)] = None,
      latCol: String = "lat",
      lonCol: String = "lon"
  ): DataFrame =
    inPeriod(df, spec, timeRange).where(cellFilter(df, lat, lon, latCol, lonCol))
      .select(col(spec.tsCol), col(latCol), col(lonCol), col(spec.valueCol))
      .orderBy(col(spec.tsCol))
      .limit(MaxTimeSteps)

  /** The rows of `df` inside an optional `(start, end)` time window —
    * the slice every time-scoped route applies before its own work.
    */
  private[serve] def inPeriod(df: DataFrame, spec: SeriesSpec,
                              timeRange: Option[(String, String)]): DataFrame =
    timeRange.fold(df) { case (s, e) =>
      df.where(TimeFns.inTimeWindow(col(spec.tsCol), s, e))
    }

  /** The snapped-cell predicate every point-scoped route shares: each
    * axis's nearest STORED value, matched exactly by the zero-width range
    * `c BETWEEN v AND v`, which pushes down to the parquet scan as a
    * `GreaterThanOrEqual`/`LessThanOrEqual` pair.
    */
  def cellFilter(df: DataFrame, lat: Double, lon: Double,
                 latCol: String = "lat", lonCol: String = "lon")
      : org.apache.spark.sql.Column = {
    val (nlat, nlon) = nearestCell(df, lat, lon, latCol, lonCol)
    col(latCol).between(nlat, nlat) && col(lonCol).between(nlon, nlon)
  }

  /** A11 — global summary per value column: mean/std/min/max/p5/p95
    * (reference `src/arco_demo.py:234-260`). One aggregate pass.
    */
  def globalStats(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.flatMap { v =>
      Seq(
        avg(col(v)).as(s"${v}_mean"),
        stddev_pop(col(v)).as(s"${v}_std"),
        min(col(v)).as(s"${v}_min"),
        max(col(v)).as(s"${v}_max"),
        percentile(col(v), lit(0.05)).as(s"${v}_p5"),
        percentile(col(v), lit(0.95)).as(s"${v}_p95"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A12 — region statistics over a bbox and time range: mean/std/min/max/
    * p10/p50/p90 (reference `api/routes/data.py:172-214`).
    */
  def regionStats(
      df: DataFrame,
      spec: SeriesSpec,
      bbox: BBox,
      timeRange: Option[(String, String)] = None,
      latCol: String = "lat",
      lonCol: String = "lon"
  ): DataFrame = {
    val v = col(spec.valueCol)
    GridSource.applyBBox(inPeriod(df, spec, timeRange), bbox, latCol, lonCol).agg(
      count(lit(1)).as("n"),
      avg(v).as("mean"),
      stddev_pop(v).as("std"),
      min(v).as("min"),
      max(v).as("max"),
      percentile(v, lit(0.10)).as("p10"),
      percentile(v, lit(0.50)).as("p50"),
      percentile(v, lit(0.90)).as("p90"))
  }

  /** Region extraction with the serving point cap
    * (reference `api/routes/data.py:135-169` + `api/main.py:99`).
    */
  def regionData(df: DataFrame, spec: SeriesSpec, bbox: BBox,
                 latCol: String = "lat", lonCol: String = "lon"): DataFrame =
    GridSource.applyBBox(df, bbox, latCol, lonCol)
      .select(col(spec.tsCol), col(latCol), col(lonCol), col(spec.valueCol))
      .limit(MaxPointsPerRequest)
}
