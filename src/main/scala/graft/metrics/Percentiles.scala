package graft.metrics

import graft.functions.TimeFns
import graft.model.{CfAttrs, SeriesSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Climatological percentiles, exceedance frequencies, percentile bins and
  * return periods (reference `metrics/percentiles.py`, SURVEY.md A5-A7, J2).
  *
  * Quantiles are EXACT (`percentile`, linear interpolation — matches
  * `np.quantile` and DuckDB `quantile_cont`) for oracle parity; the
  * documented 100 TB scale path swaps in `approx_percentile` (see
  * [[approxClimatologicalPercentiles]]), which is sketch-mergeable and
  * avoids `ObjectHashAggregate` buffers holding full value lists.
  */
object Percentiles {

  /** Default thresholds of the reference (`metrics/percentiles.py:11`). */
  val DefaultPercentiles: Seq[Int] = Seq(10, 25, 50, 75, 90, 95, 99)
  val DefaultReturnPeriods: Seq[Int] = Seq(2, 5, 10, 25, 50, 100)

  private def groupCols(spec: SeriesSpec, group: Option[Temporal.ClimGroup], ts: Column): Seq[Column] =
    group.map(g => g.expr(ts).as(g.name)).toSeq ++ spec.keyCols.map(col)

  private def restrict(df: DataFrame, spec: SeriesSpec, period: Option[(String, String)]): DataFrame =
    period.fold(df) { case (s, e) =>
      df.where(TimeFns.inTimeWindow(col(spec.tsCol), s, e))
    }

  /** A5 — percentile thresholds per (climatological group, cell)
    * (reference `metrics/percentiles.py:14-77`). Output is long-form with a
    * `percentile` axis exploded to rows, like the reference's `percentile`
    * dimension.
    */
  def climatologicalPercentiles(
      df: DataFrame,
      spec: SeriesSpec,
      percentiles: Seq[Int] = DefaultPercentiles,
      group: Option[Temporal.ClimGroup] = Some(Temporal.ByMonth),
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    require(percentiles.forall(p => p >= 0 && p <= 100), s"percentiles out of [0,100]: $percentiles")
    val out = thresholdVectors(df, spec, percentiles, group, referencePeriod)
      .select(
        (group.map(g => col(g.name)).toSeq ++ spec.keyCols.map(col)) :+
          posexplode(col("vals")).as(Seq("pos", "value")): _*)
      .withColumn("percentile", element_at(typedLit(percentiles), col("pos") + 1))
      .drop("pos")
    // reference `metrics/percentiles.py:72-75`
    CfAttrs.stamp(out, "value") { b =>
      b.putLongArray("percentiles", percentiles.map(_.toLong).toArray)
      b.putString("groupby", group.map(_.name).getOrElse("all"))
      referencePeriod.foreach { case (s0, e0) =>
        b.putString("reference_period", s"$s0 to $e0") }
    }
  }

  /** Thresholds kept as a sorted ArrayType column — the broadcastable shape
    * the rank-interpolation join consumes (SURVEY.md J3).
    */
  def thresholdVectors(
      df: DataFrame,
      spec: SeriesSpec,
      percentiles: Seq[Int] = DefaultPercentiles,
      group: Option[Temporal.ClimGroup] = Some(Temporal.ByMonth),
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    spec.validate(df)
    require(percentiles.forall(p => p >= 0 && p <= 100),
      s"Percentile must be between 0 and 100, got: ${percentiles.mkString(", ")}")
    // ascending is the INVARIANT the doc promises ("sorted ArrayType
    // column"): the rank-interpolation kernel clamps on vals.head/last
    // and walks the thresholds in order — unsorted input would silently
    // clamp or mis-interpolate every value
    require(percentiles == percentiles.sorted,
      s"percentiles must be ascending, got: ${percentiles.mkString(", ")}")
    val probs = array(percentiles.map(p => lit(p / 100.0)): _*)
    restrict(df, spec, referencePeriod)
      .groupBy(groupCols(spec, group, col(spec.tsCol)): _*)
      .agg(percentile(col(spec.valueCol), probs).as("vals"))
  }

  /** Scale-path variant of A5: t-digest sketches, fully partial-aggregatable.
    * Not oracle-matched (approximate by design).
    */
  def approxClimatologicalPercentiles(
      df: DataFrame,
      spec: SeriesSpec,
      percentiles: Seq[Int] = DefaultPercentiles,
      group: Option[Temporal.ClimGroup] = Some(Temporal.ByMonth),
      accuracy: Int = 10000
  ): DataFrame = {
    spec.validate(df)
    require(percentiles.forall(p => p >= 0 && p <= 100),
      s"Percentile must be between 0 and 100, got: ${percentiles.mkString(", ")}")
    require(percentiles == percentiles.sorted,
      s"percentiles must be ascending, got: ${percentiles.mkString(", ")}")
    val probs = array(percentiles.map(p => lit(p / 100.0)): _*)
    df.groupBy(groupCols(spec, group, col(spec.tsCol)): _*)
      .agg(approx_percentile(col(spec.valueCol), probs, lit(accuracy)).as("vals"))
      .select((group.map(g => col(g.name)).toSeq ++ spec.keyCols.map(col)) :+
        posexplode(col("vals")).as(Seq("pos", "value")): _*)
      .withColumn("percentile", element_at(typedLit(percentiles), col("pos") + 1))
      .drop("pos")
  }

  /** A6/J2 — fraction of observations above the cell's climatological
    * percentile threshold (reference `metrics/percentiles.py:80-112`).
    * The threshold side is tiny (≤12 rows per cell) → broadcast hash join;
    * the fact side never shuffles before the final per-cell aggregate.
    * Alignment is an inner join (see Anomalies.joinClim's note): under a
    * `referencePeriod`, fact rows outside the covered groups are dropped
    * — and therefore excluded from the frequency's denominator.
    */
  def exceedanceFrequency(
      df: DataFrame,
      spec: SeriesSpec,
      percentile: Int = 90,
      group: Temporal.ClimGroup = Temporal.ByMonth,
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    val thr = climatologicalPercentiles(df, spec, Seq(percentile), Some(group), referencePeriod)
      .withColumnRenamed("value", "thr").drop("percentile")
    val out = df.withColumn(group.name, group.expr(col(spec.tsCol)))
      .join(broadcast(thr), group.name +: spec.keyCols)
      .groupBy(spec.keyCols.map(col): _*)
      .agg(avg((col(spec.valueCol) > col("thr")).cast("double")).as("exceedance_freq"))
    // reference `metrics/percentiles.py:109-110`
    CfAttrs.stamp(out, "exceedance_freq") { b =>
      b.putString("long_name", s"Exceedance frequency above ${percentile}th percentile")
      b.putString("units", "1")
    }
  }

  /** Percentile-bin classification (reference `metrics/percentiles.py:118-151`):
    * bin = largest percentile whose threshold the value reaches, else 0.
    * Pure higher-order expression over the broadcast threshold vector —
    * stays inside whole-stage codegen, no UDF.
    */
  def classifyByPercentile(
      df: DataFrame,
      spec: SeriesSpec,
      percentiles: Seq[Int] = DefaultPercentiles,
      group: Temporal.ClimGroup = Temporal.ByMonth,
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    val thr = thresholdVectors(df, spec, percentiles, Some(group), referencePeriod)
    val pcts = typedLit(percentiles)
    val out = df.withColumn(group.name, group.expr(col(spec.tsCol)))
      .join(broadcast(thr), group.name +: spec.keyCols)
      .withColumn("percentile_bin",
        // a NULL observation is a GAP, not "below every threshold": the
        // zip_with/otherwise(0) would map it to bin 0 (NullHandlingSpec's
        // null-propagation contract)
        when(col(spec.valueCol).isNull, lit(null))
          .otherwise(aggregate(
            zip_with(pcts, col("vals"),
              (p, t) => when(col(spec.valueCol) >= t, p).otherwise(0)),
            lit(0),
            (acc, x) => greatest(acc, x))).cast("tinyint"))
      .drop("vals")
    // reference `metrics/percentiles.py:146-147`
    CfAttrs.stamp(out, "percentile_bin") { b =>
      b.putString("long_name", "Percentile classification")
      b.putLongArray("percentile_bins", percentiles.map(_.toLong).toArray)
    }
  }

  /** A7 — return-period levels from annual maxima
    * (reference `metrics/percentiles.py:152-187`): quantiles of the annual
    * max distribution at probability 1 − 1/T. Two-stage aggregation — the
    * annual-max stage is partial-aggregatable, the quantile stage sees only
    * |years| rows per cell.
    */
  def returnPeriods(
      df: DataFrame,
      spec: SeriesSpec,
      periods: Seq[Int] = DefaultReturnPeriods
  ): DataFrame = {
    spec.validate(df)
    require(periods.forall(_ > 1), s"Return periods must be > 1 year, got: ${periods.mkString(", ")}")
    val probs = array(periods.map(t => lit(1.0 - 1.0 / t)): _*)
    val out = df
      .groupBy((year(col(spec.tsCol)).as("year") +: spec.keyCols.map(col)): _*)
      .agg(max(col(spec.valueCol)).as("annual_max"))
      .groupBy(spec.keyCols.map(col): _*)
      .agg(percentile(col("annual_max"), probs).as("vals"))
      .select(spec.keyCols.map(col) :+ posexplode(col("vals")).as(Seq("pos", "level")): _*)
      .withColumn("return_period", element_at(typedLit(periods), col("pos") + 1))
      .drop("pos")
    // reference `metrics/percentiles.py:184`
    CfAttrs.stamp(out, "level")(
      _.putString("long_name", "Return period values"))
  }
}
