package graft.serve

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
  * Request values enter the plans as literals (the snapped cell's range,
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

  /** Geometry of one coordinate axis: distinct-value count, extent, and
    * whether the values form a REGULAR (evenly spaced) ladder. For a
    * regular axis the nearest cell is pure arithmetic — no Spark job.
    */
  final case class AxisMeta(n: Long, min: Double, max: Double, regular: Boolean) {
    def res: Double = if (n > 1) (max - min) / (n - 1) else 0.0
    /** Nearest ladder value to `v` (ties toward the smaller coordinate,
      * matching `orderBy(abs(c-v), c)`); None when the axis is irregular.
      */
    def snap(v: Double): Option[Double] =
      if (!regular) None
      else if (n <= 1) Some(min)
      else {
        val p = (v - min) / res
        val idx = math.min(n - 1, math.max(0L, math.ceil(p - 0.5).toLong))
        Some(min + idx * res)
      }
  }

  final case class GridMeta(lat: AxisMeta, lon: AxisMeta)

  /** Probe both axes without ever collecting a coordinate vector. First
    * aggregate: each axis's distinct ladder (explode both coordinates
    * into (axis, v) pairs, distinct with map-side combine — the shuffle
    * carries per-partition ladders, not rows) reduced to count, extent,
    * sum, and sum of squares, compared against the arithmetic-progression
    * closed forms
    *   sum   = n(min+max)/2
    *   sumSq = n·min² + min·res·n(n−1) + res²·(n−1)n(2n−1)/6
    * as a FAST REJECT. Matching moments do NOT certify an AP (for n ≥ 5
    * a one-parameter family of irregular ladders shares n/min/max/Σv/Σv²
    * with the AP), so axes that pass get a second, certifying aggregate:
    * max |v − nearest lattice point| must sit inside the snap tolerance
    * and the rounded lattice indices must be distinct — that IS the
    * definition of the ladder snap() assumes. Both jobs run once per
    * registered dataset (cached); serving stays zero-job.
    * (The moments must be taken over DISTINCT LADDER VALUES — a
    * sum_distinct of v² would collapse symmetric ±v pairs.)
    */
  def gridMeta(df: DataFrame, latCol: String = "lat",
               lonCol: String = "lon"): GridMeta = {
    val v = col("p.v")
    def ladder = df
      .select(explode(array(
        struct(lit(0).as("axis"), col(latCol).cast("double").as("v")),
        struct(lit(1).as("axis"), col(lonCol).cast("double").as("v")))).as("p"))
      .where(v.isNotNull)
      .groupBy(col("p.axis").as("axis"), v.as("v")).agg(count(lit(1)))
    val byAxis = ladder
      .groupBy(col("axis"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"),
        sum(col("v")).as("s"), sum(col("v") * col("v")).as("sq"))
      .collect().map(r => r.getInt(0) -> r).toMap
    final case class Probe(n: Long, mn: Double, mx: Double, momentsOk: Boolean)
    def probe(i: Int): Probe = byAxis.get(i) match {
      case None => Probe(0, Double.NaN, Double.NaN, momentsOk = false)
      case Some(r) =>
        val n = r.getLong(1)
        val (mn, mx) = (r.getDouble(2), r.getDouble(3))
        val (s, sq) = (r.getDouble(4), r.getDouble(5))
        val ok = n <= 2 || {
          val res = (mx - mn) / (n - 1)
          val sAP = n * (mn + mx) / 2.0
          val sqAP = n * mn * mn + mn * res * n * (n - 1) +
            res * res * (n - 1.0) * n * (2.0 * n - 1) / 6.0
          math.abs(s - sAP) <= 1e-9 * math.max(1.0, math.abs(sAP)) &&
            math.abs(sq - sqAP) <= 1e-9 * math.max(1.0, math.abs(sqAP))
        }
        Probe(n, mn, mx, ok)
    }
    val p0 = probe(0); val p1 = probe(1)
    // certification pass over the moment-matching axes with n > 2
    val need = Seq(0 -> p0, 1 -> p1).filter { case (_, p) => p.momentsOk && p.n > 2 }
    val certified: Map[Int, Boolean] =
      if (need.isEmpty) Map.empty
      else {
        val mnC = need.map { case (i, p) => (i, p.mn) }.toMap
        val resC = need.map { case (i, p) => (i, (p.mx - p.mn) / (p.n - 1)) }.toMap
        def perAxis(c: Map[Int, Double]) =
          when(col("axis") === 0, lit(c.getOrElse(0, Double.NaN)))
            .otherwise(lit(c.getOrElse(1, Double.NaN)))
        val idx = round((col("v") - perAxis(mnC)) / perAxis(resC))
        val dev = abs(col("v") - (perAxis(mnC) + idx * perAxis(resC)))
        ladder
          .where(col("axis").isin(need.map(_._1): _*))
          .select(col("axis"), col("v"), idx.as("idx"), dev.as("dev"))
          .groupBy(col("axis"))
          .agg(max(col("dev")).as("maxDev"),
            countDistinct(col("idx")).as("nIdx"), count(lit(1)).as("n"))
          .collect().map { r =>
            val i = r.getInt(0)
            val res = resC(i)
            r.getInt(0) -> (r.getDouble(1) <= 1e-6 * math.abs(res) &&
              r.getLong(2) == r.getLong(3))
          }.toMap
      }
    def axis(i: Int, p: Probe): AxisMeta = AxisMeta(p.n, p.mn, p.mx,
      regular = p.momentsOk && (p.n <= 2 || certified.getOrElse(i, false)))
    GridMeta(axis(0, p0), axis(1, p1))
  }

  /** One dataset's geometry, probed at most once at a time: concurrent
    * first requests wait on the slot while the first runs the two-job
    * probe (single-flight). A failed probe leaves the slot empty, so the
    * next request retries.
    */
  private final class MetaSlot {
    private var meta: GridMeta = _
    def get(probe: => GridMeta): GridMeta = synchronized {
      if (meta == null) meta = probe
      meta
    }
  }

  /** Per-JVM grid-geometry cache keyed by the CANONICALIZED logical plan
    * (structural equality — no hash-collision wrongness) + axis columns.
    * Grid geometry is immutable for a registered dataset: appending time
    * steps never changes the lat/lon ladder. If spatial tiles are added,
    * call [[invalidateGridMeta]].
    */
  private val metaCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Any, String, String), MetaSlot](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Any, String, String), MetaSlot]): Boolean =
          size() > 128
      })

  def invalidateGridMeta(): Unit = metaCache.clear()

  private val probes = new java.util.concurrent.atomic.AtomicLong

  /** Geometry probes actually run (test observability for cache hits). */
  private[serve] def probeCount: Long = probes.get

  private def cachedMeta(df: DataFrame, latCol: String, lonCol: String): GridMeta = {
    val key = (df.queryExecution.logical.canonicalized, latCol, lonCol)
    metaCache.computeIfAbsent(key, _ => new MetaSlot).get {
      probes.incrementAndGet()
      gridMeta(df, latCol, lonCol)
    }
  }

  /** P4 — nearest grid cell to (lat, lon), per-axis like xarray
    * `sel(method="nearest")`: nearest distinct lat, nearest distinct lon,
    * ties broken toward the smaller coordinate.
    *
    * Serving path: the first request probes the grid geometry with ONE
    * aggregate job ([[gridMeta]], cached per dataset); every later request
    * on a REGULAR grid snaps arithmetically — zero jobs before the series
    * scan itself. Irregular axes fall back to a distinct+sort scan, the
    * only case where per-request coordinate jobs are still paid.
    */
  def nearestCell(df: DataFrame, lat: Double, lon: Double,
                  latCol: String = "lat", lonCol: String = "lon"): (Double, Double) =
    snapCell(df, cachedMeta(df, latCol, lonCol), lat, lon, latCol, lonCol)

  private def snapCell(df: DataFrame, meta: GridMeta, lat: Double, lon: Double,
                       latCol: String, lonCol: String): (Double, Double) = {
    def scanNearest(c: String, v: Double): Double =
      df.select(col(c)).distinct()
        .orderBy(abs(col(c) - v), col(c))
        .head().getDouble(0)
    (meta.lat.snap(lat).getOrElse(scanNearest(latCol, lat)),
      meta.lon.snap(lon).getOrElse(scanNearest(lonCol, lon)))
  }

  /** P4 — time series at a point: snap to the nearest cell, then an
    * equality+range filter that pushes down to the scan. Output capped at
    * [[MaxTimeSteps]] rows.
    *
    * Regular grids match the snapped coordinate with an ulp-scale
    * tolerance (res·1e-6): the arithmetic snap can differ from the stored
    * double in the last bit when the file's coordinates were accumulated
    * differently (float32 ladders, 0.1° steps). Rows still carry the
    * STORED coordinates, so outputs are exact either way.
    */
  def pointSeries(
      df: DataFrame,
      spec: SeriesSpec,
      lat: Double,
      lon: Double,
      timeRange: Option[(String, String)] = None,
      latCol: String = "lat",
      lonCol: String = "lon"
  ): DataFrame = {
    val in = timeRange.fold(df) { case (s, e) =>
      df.where(col(spec.tsCol).between(lit(s).cast("timestamp"), lit(e).cast("timestamp")))
    }
    in.where(cellFilter(df, lat, lon, latCol, lonCol))
      .select(col(spec.tsCol), col(latCol), col(lonCol), col(spec.valueCol))
      .orderBy(col(spec.tsCol))
      .limit(MaxTimeSteps)
  }

  /** The snapped-cell predicate every point-scoped route shares: nearest
    * cell per axis, matched with the ulp-scale tolerance on REGULAR axes
    * (see [[pointSeries]]'s note — the arithmetic snap can differ from
    * the stored double in the last bits on float32/accumulated ladders;
    * an exact === there silently matches ZERO rows) and exact equality on
    * irregular axes (the snap IS a stored value there). Range form, not
    * abs(): plain comparisons push down to the scan.
    */
  def cellFilter(df: DataFrame, lat: Double, lon: Double,
                 latCol: String = "lat", lonCol: String = "lon")
      : org.apache.spark.sql.Column = {
    val meta = cachedMeta(df, latCol, lonCol)
    val (nlat, nlon) = snapCell(df, meta, lat, lon, latCol, lonCol)
    def cellMatch(c: String, snapped: Double, axis: AxisMeta) =
      if (axis.regular && axis.n > 1) {
        val tol = math.abs(axis.res) * 1e-6
        col(c) >= snapped - tol && col(c) <= snapped + tol
      } else col(c) === snapped
    cellMatch(latCol, nlat, meta.lat) && cellMatch(lonCol, nlon, meta.lon)
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
    val sliced = timeRange.fold(df) { case (s, e) =>
      df.where(col(spec.tsCol).between(lit(s).cast("timestamp"), lit(e).cast("timestamp")))
    }
    val v = col(spec.valueCol)
    GridSource.applyBBox(sliced, bbox, latCol, lonCol).agg(
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
