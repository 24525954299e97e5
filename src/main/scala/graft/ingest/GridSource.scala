package graft.ingest

import graft.functions.TimeFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spatial bounding box, ±180 longitude convention
  * (reference `ingest/netcdf_reader.py:114-156`). `west > east` means the
  * box crosses the antimeridian.
  */
final case class BBox(west: Double, south: Double, east: Double, north: Double) {
  def crossesAntimeridian: Boolean = west > east
}

/** Scans with projection/predicate pushdown (reference
  * `ingest/netcdf_reader.py`, SURVEY.md S1-S6, P1-P3).
  *
  * All selection is declarative: Catalyst pushes the column list and the
  * time/bbox predicates into the parquet scan (visible as `PushedFilters`/
  * `ReadSchema` in explain), so at 100 TB only matching row groups are
  * read. The reference's two-slice antimeridian concat
  * (`netcdf_reader.py:152-154`) collapses to a single OR predicate in the
  * row model — still pushable.
  */
object GridSource {

  /** S2 — lazy scan with optional projection, time range and bbox.
    * `variables` are data columns kept in addition to the coordinate
    * columns; missing ones raise with the list of available columns,
    * mirroring the reference's validation (`netcdf_reader.py:59-64`).
    */
  def readGrid(
      spark: SparkSession,
      path: String,
      variables: Seq[String] = Nil,
      timeRange: Option[(String, String)] = None,
      bbox: Option[BBox] = None,
      tsCol: String = "ts",
      latCol: String = "lat",
      lonCol: String = "lon"
  ): DataFrame = {
    var df = spark.read.parquet(path)
    if (variables.nonEmpty) {
      val available = df.columns.toSet
      val missing = variables.filterNot(available)
      require(missing.isEmpty,
        s"Variables not found: ${missing.mkString(", ")}. Available: ${df.columns.sorted.mkString(", ")}")
      val coords = Seq(tsCol, latCol, lonCol).filter(available)
      df = df.select((coords ++ variables).distinct.map(col): _*)
    }
    timeRange.foreach { case (s, e) =>
      // validate the bounds on the driver BEFORE the cast reaches the
      // plan: under non-ANSI conf a malformed literal casts to NULL and
      // between(NULL, …) silently drops every row — the loud-reject
      // convention the grid reader (GridCube.parseInstantMicros) already
      // follows for the same inputs
      Seq(s, e).foreach(b => GridCube.parseInstantMicros(b))
      df = df.where(TimeFns.inTimeWindow(col(tsCol), s, e))
    }
    bbox.foreach(b => df = applyBBox(df, b, latCol, lonCol))
    df
  }

  /** Multi-format scan: parquet (columnar, default), csv (header or
    * explicit schema), json lines — the reference's NetCDF/Zarr surface
    * generalized to Spark's source formats. An explicit schema avoids the
    * full-file inference pass for csv/json (critical at scale: inference
    * reads everything once before the real scan).
    */
  def readTable(
      spark: SparkSession,
      path: String,
      format: String = "parquet",
      schema: Option[StructType] = None
  ): DataFrame = {
    var r = spark.read.format(format)
    schema.foreach(s => r = r.schema(s))
    format match {
      case "csv" =>
        if (schema.isEmpty) r = r.option("header", "true").option("inferSchema", "true")
        else r = r.option("header", "true")
      case _ => ()
    }
    r.load(path)
  }

  /** S5/P3 — bbox predicate with antimeridian handling. */
  def applyBBox(df: DataFrame, b: BBox, latCol: String = "lat", lonCol: String = "lon"): DataFrame = {
    val latP = col(latCol).between(b.south, b.north)
    val lonP =
      if (b.crossesAntimeridian) col(lonCol) >= b.west || col(lonCol) <= b.east
      else col(lonCol).between(b.west, b.east)
    df.where(latP && lonP)
  }

  /** F8 — normalize a longitude column to ±180 at ingest
    * (`netcdf_reader.py:134-137`).
    */
  def normalizeLongitude(df: DataFrame, lonCol: String = "lon"): DataFrame =
    df.withColumn(lonCol, TimeFns.normalizeLon(col(lonCol)))

  /** S3 — find the time column: name conventions, then any TimestampType
    * (reference `netcdf_reader.py:80-90` name list + dtype-kind fallback).
    */
  def detectTimeColumn(schema: StructType): Option[String] = {
    val candidates = Seq("time", "t", "date", "datetime", "ts")
    val byName = schema.fields.find(f => candidates.contains(f.name.toLowerCase))
    byName.orElse(schema.fields.find(f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType || f.dataType == DateType))
      .map(_.name)
  }

  /** S4 — find lat/lon columns by convention (reference `netcdf_reader.py:93-111`). */
  def detectLatLonColumns(schema: StructType): (Option[String], Option[String]) = {
    def find(cands: Seq[String], substr: String): Option[String] =
      schema.fields.map(_.name).find(n => cands.contains(n.toLowerCase))
        .orElse(schema.fields.map(_.name).find(_.toLowerCase.contains(substr)))
    (find(Seq("lat", "latitude", "y"), "lat"), find(Seq("lon", "longitude", "x"), "lon"))
  }

  /** S6 — dataset summary in one aggregate pass: row count, time extent and
    * step count, value extent (reference `netcdf_reader.py:159-210`).
    */
  def datasetInfo(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col(tsCol)).as("n_timesteps"),
      min(col(tsCol)).as("ts_min"),
      max(col(tsCol)).as("ts_max"),
      min(col(valueCol)).as("value_min"),
      max(col(valueCol)).as("value_max"),
      avg(col(valueCol)).as("value_mean"))

  /** W2 — mean step between consecutive distinct coordinate values — the
    * reference's resolution estimate (`netcdf_reader.py:191-192`,
    * `diff(dim).mean()`). For timestamps pass `epochSeconds(c)`.
    *
    * Consecutive diffs over sorted distinct values telescope, so their mean
    * is EXACTLY `(max − min) / (nDistinct − 1)` for any axis — computed here
    * as one partial+final aggregate. (The naive sort+lag form needs a
    * global, partitionless window: every distinct coordinate funnels
    * through one task — a straggler for a dense time axis at scale.)
    * Returns null for a single-valued axis (no steps to average).
    */
  def resolution(df: DataFrame, c: Column): DataFrame = {
    val n = countDistinct(c)
    df.agg(when(n > 1, (max(c) - min(c)) / (n - lit(1))).as("resolution"))
  }
}
