package graft.metrics

import graft.model.{CfAttrs, SeriesSpec}
import graft.functions.TimeFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal resample-aggregations and climatological group-bys.
  *
  * Re-expresses the reference's `metrics/temporal.py` operators
  * (A1-A4, W1 in SURVEY.md §2.4/§2.5) as declarative groupBy/window plans:
  * Catalyst gets partial (map-side) aggregation, shuffle on the group keys,
  * and whole-stage codegen for free. At 100 TB the shuffle key space
  * (bucket × cell) is high-cardinality and uniform, so hash aggregation
  * scales linearly with executors; no driver-side state exists anywhere.
  */
object Temporal {

  private def keyed(spec: SeriesSpec, extra: Column*)(names: String*): Seq[Column] =
    extra.zip(names).map { case (c, n) => c.as(n) } ++ spec.keyCols.map(col)

  /** A1 — monthly mean (reference `metrics/temporal.py:21-44`).
    * One row per (calendar month, cell); `month` is the month-start
    * timestamp, `month_end` the pandas "ME" end label.
    */
  def monthlyMean(df: DataFrame, spec: SeriesSpec): DataFrame = {
    spec.validate(df)
    val out = df
      .groupBy(keyed(spec, TimeFns.monthStart(col(spec.tsCol)))("month"): _*)
      .agg(avg(col(spec.valueCol)).as("mean_value"))
      .withColumn("month_end", TimeFns.monthEnd(col("month")))
    // reference `metrics/temporal.py:42` stamps cell_methods on every
    // resample output — CF provenance in StructField.metadata
    CfAttrs.stamp(out, "mean_value")(
      _.putString("cell_methods", s"${spec.tsCol}: mean (monthly)"))
  }

  /** A2 — seasonal mean with DJF year-rollover
    * (reference `metrics/temporal.py:47-88`, `QE-NOV` anchoring).
    */
  def seasonalMean(df: DataFrame, spec: SeriesSpec): DataFrame = {
    spec.validate(df)
    val out = df.groupBy(keyed(spec,
        TimeFns.seasonYear(col(spec.tsCol)),
        TimeFns.season(col(spec.tsCol)))("season_year", "season"): _*)
      .agg(avg(col(spec.valueCol)).as("mean_value"))
    CfAttrs.stamp(out, "mean_value")(
      _.putString("cell_methods", s"${spec.tsCol}: mean (seasonal)"))
  }

  /** A3 — annual mean (reference `metrics/temporal.py:91-117`). */
  def annualMean(df: DataFrame, spec: SeriesSpec): DataFrame = {
    spec.validate(df)
    val out = df.groupBy(keyed(spec, year(col(spec.tsCol)))("year"): _*)
      .agg(avg(col(spec.valueCol)).as("mean_value"))
    CfAttrs.stamp(out, "mean_value")(
      _.putString("cell_methods", s"${spec.tsCol}: mean (annual)"))
  }

  /** `cardinality` is the static upper bound on distinct group values —
    * the known factor of the climatology's row count that
    * [[Anomalies.standardizedAnomalyAuto]]'s size estimate multiplies by
    * the (measured or hinted) cell count.
    */
  sealed trait ClimGroup {
    def expr(ts: Column): Column; def name: String; def cardinality: Int
  }
  case object ByMonth extends ClimGroup {
    def expr(ts: Column): Column = month(ts); val name = "month"
    val cardinality = 12
  }
  case object ByDayOfYear extends ClimGroup {
    def expr(ts: Column): Column = dayofyear(ts); val name = "dayofyear"
    val cardinality = 366
  }
  case object BySeason extends ClimGroup {
    def expr(ts: Column): Column = TimeFns.season(ts); val name = "season"
    val cardinality = 4
  }

  /** A4 — long-term climatology grouped by month | dayofyear | season over
    * an optional reference period (reference `metrics/temporal.py:120-159`).
    * The output is small (≤366 rows per cell) — downstream anomaly joins
    * broadcast it (see [[Anomalies]]).
    */
  def climatology(
      df: DataFrame,
      spec: SeriesSpec,
      group: ClimGroup = ByMonth,
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    spec.validate(df)
    val in = referencePeriod.fold(df) { case (s, e) =>
      df.where(TimeFns.inTimeWindow(col(spec.tsCol), s, e))
    }
    val out = in
      .groupBy(keyed(spec, group.expr(col(spec.tsCol)))(group.name): _*)
      .agg(avg(col(spec.valueCol)).as("clim_mean"),
           stddev_pop(col(spec.valueCol)).as("clim_std"))
    // reference `metrics/temporal.py:156-157`
    val withMean = CfAttrs.stamp(out, "clim_mean") { b =>
      b.putString("cell_methods", s"${spec.tsCol}: mean over years")
      b.putString("climatology_groupby", group.name)
    }
    CfAttrs.stamp(withMean, "clim_std") { b =>
      b.putString("cell_methods", s"${spec.tsCol}: standard_deviation over years")
      b.putString("climatology_groupby", group.name)
    }
  }

  /** W1 — rolling mean along time (reference `metrics/temporal.py:162-192`).
    *
    * Pandas-compatible semantics: `center=true` uses the left-heavy frame
    * for even windows (offsets −w/2 … w/2−1+(w%2)); rows with fewer than
    * `minPeriods` non-null values in frame yield null. `orderCols` must make
    * the ordering total (ties in ts break frame determinism).
    *
    * Scale note: a row-frame window shuffles once on the cell key and sorts
    * within partitions — no O(w) recompute per row (Spark's sliding
    * aggregation is incremental for avg/count).
    */
  def rollingMean(
      df: DataFrame,
      spec: SeriesSpec,
      window: Int,
      minPeriods: Option[Int] = None,
      center: Boolean = true,
      orderCols: Seq[String] = Nil
  ): DataFrame = {
    spec.validate(df)
    require(window > 0, s"window must be positive, got $window")
    val minP = minPeriods.getOrElse(math.max(window / 2, 1))
    val (lo, hi) =
      if (center) (-(window / 2).toLong, (window - 1 - window / 2).toLong)
      else (-(window - 1).toLong, 0L)
    val order = (spec.tsCol +: orderCols).map(col)
    val w = Window.partitionBy(spec.keyCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(lo, hi)
    val out = df.withColumn("rolling_mean",
      when(count(col(spec.valueCol)).over(w) >= minP,
           avg(col(spec.valueCol)).over(w)))
    // reference `metrics/temporal.py:190`
    CfAttrs.stamp(out, "rolling_mean")(
      _.putString("cell_methods", s"${spec.tsCol}: mean (rolling window=$window)"))
  }

  /** A13 — generic reduction along the time axis
    * (reference `processing/dask_pipeline.py:164-192`): group by cell,
    * apply a caller-supplied aggregate column.
    */
  def reduceOverTime(df: DataFrame, spec: SeriesSpec, aggs: Column*): DataFrame = {
    spec.validate(df)
    require(aggs.nonEmpty, "reduceOverTime needs at least one aggregate column")
    df.groupBy(spec.keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
