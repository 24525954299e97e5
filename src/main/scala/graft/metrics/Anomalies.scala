package graft.metrics

import graft.model.{CfAttrs, SeriesSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Anomalies relative to a climatological reference
  * (reference `metrics/anomalies.py`, SURVEY.md J1/J3, P6).
  *
  * Every operator here is "fact table ⋈ tiny climatology" — the xarray
  * `groupby(...) - climatology` alignment is an equi-join on
  * (climatological group, cell) against an aggregate with ≤366 rows per
  * cell. We broadcast the climatology side explicitly, so the fact table is
  * never shuffled: at 100 TB the plan is scan → broadcast-join → project,
  * all inside one codegen stage.
  */
object Anomalies {

  /** Alignment is an INNER equi-join on (group, cells): a fact row whose
    * group/cell has NO climatology entry — possible only under a
    * `referencePeriod` or a user-supplied climatology that does not cover
    * the full fact domain — is DROPPED from the output, not null-scored.
    * (xarray's groupby arithmetic errors on the missing key; the
    * relational translation prunes instead. Callers needing the dropped
    * rows surfaced should anti-join the output against the input.)
    * The climatology side is broadcast unless `broadcastClim` is false
    * ([[standardizedAnomalyAuto]]'s oversized-climatology branch).
    */
  private def joinClim(
      df: DataFrame,
      spec: SeriesSpec,
      group: Temporal.ClimGroup,
      clim: DataFrame,
      broadcastClim: Boolean = true
  ): DataFrame = {
    spec.validate(df)
    df.withColumn(group.name, group.expr(col(spec.tsCol)))
      .join(if (broadcastClim) broadcast(clim) else clim, group.name +: spec.keyCols)
  }

  /** J1 — absolute anomaly: value − climatological mean
    * (reference `metrics/anomalies.py:13-65`). Climatology is computed from
    * `referencePeriod` unless a pre-computed one is passed (same contract as
    * the reference's `climatology=` argument).
    */
  def anomaly(
      df: DataFrame,
      spec: SeriesSpec,
      group: Temporal.ClimGroup = Temporal.ByMonth,
      referencePeriod: Option[(String, String)] = None,
      climatology: Option[DataFrame] = None
  ): DataFrame = {
    val clim = climatology.getOrElse(Temporal.climatology(df, spec, group, referencePeriod))
    val out = joinClim(df, spec, group, clim)
      .withColumn("anomaly", col(spec.valueCol) - col("clim_mean"))
      .drop("clim_mean", "clim_std")
    // reference `metrics/anomalies.py:56-63`: original attrs copied, then
    // long_name/standard_name overridden (+reference_period when set)
    val base = CfAttrs.of(df, spec.valueCol)
    CfAttrs.stamp(out, "anomaly", base) { b =>
      val longName =
        if (base.contains("long_name")) base.getString("long_name")
        else spec.valueCol
      b.putString("long_name", s"$longName anomaly")
      b.putString("standard_name", s"${spec.valueCol}_anomaly")
      referencePeriod.foreach { case (s0, e0) =>
        b.putString("reference_period", s"$s0 to $e0") }
    }
  }

  /** Standardized anomaly (z-score): (value − mean) / std with the
    * reference's ddof=0 population std (`metrics/anomalies.py:68-137`,
    * xarray `.std()` default).
    */
  def standardizedAnomaly(
      df: DataFrame,
      spec: SeriesSpec,
      group: Temporal.ClimGroup = Temporal.ByMonth,
      referencePeriod: Option[(String, String)] = None,
      climatology: Option[DataFrame] = None
  ): DataFrame =
    zscoreJoin(df, spec, group, referencePeriod, climatology, broadcastClim = true)

  /** The climatology-join z-score body of [[standardizedAnomaly]] and of
    * [[standardizedAnomalyAuto]]'s shuffle-join branch, which differ only
    * in the broadcast hint.
    */
  private def zscoreJoin(
      df: DataFrame,
      spec: SeriesSpec,
      group: Temporal.ClimGroup,
      referencePeriod: Option[(String, String)],
      climatology: Option[DataFrame],
      broadcastClim: Boolean
  ): DataFrame = {
    val clim = climatology.getOrElse(Temporal.climatology(df, spec, group, referencePeriod))
    val out = joinClim(df, spec, group, clim, broadcastClim)
      .withColumn("anomaly", col(spec.valueCol) - col("clim_mean"))
      .withColumn("zscore", zdiv(col("anomaly"), col("clim_std")))
      .drop("clim_mean", "clim_std")
    stampZscore(out, spec, referencePeriod)
  }

  /** reference `metrics/anomalies.py:128-133`: dimensionless z-score attrs
    * — shared by all three standardized-anomaly forms (their result
    * parity extends to provenance).
    */
  private def stampZscore(df: DataFrame, spec: SeriesSpec,
                          referencePeriod: Option[(String, String)]): DataFrame =
    CfAttrs.stamp(df, "zscore") { b =>
      b.putString("long_name", s"Standardized ${spec.valueCol} anomaly")
      b.putString("standard_name", s"${spec.valueCol}_standardized_anomaly")
      b.putString("units", "1")
      referencePeriod.foreach { case (s0, e0) =>
        b.putString("reference_period", s"$s0 to $e0") }
    }

  /** z = anomaly / std with numpy division semantics, not an ANSI
    * DIVIDE_BY_ZERO error: 0/0 → NaN, x/0 → ±inf (sign of x). The x/0 case
    * is reachable — with a `referencePeriod` (or user-supplied) climatology
    * a row OUTSIDE the reference window can carry a nonzero anomaly over a
    * zero-variance group; only a full-series climatology guarantees
    * anomaly ≡ 0 wherever std = 0 (reference `metrics/anomalies.py`
    * inherits exactly these semantics from numpy).
    */
  private def zdiv(anomaly: Column, std: Column): Column =
    when(std === 0.0,
      when(anomaly === 0.0, lit(Double.NaN))
        .otherwise(signum(anomaly) * lit(Double.PositiveInfinity)))
      .otherwise(anomaly / std)

  /** Standardized anomaly for the DENSE regime — one shuffle, no join.
    *
    * [[standardizedAnomaly]]'s broadcast join is optimal when the
    * climatology is small relative to the fact table (monthly groups, few
    * cells, or a reference period collapses it) — it stays ahead even at
    * the 189M-row probe grid with a monthly climatology. The regime that
    * kills it is (cell × climatological group) approaching fact size: a
    * day-of-year climatology on the 23.7M-row probe grid makes the
    * broadcast form 8× slower than this one (97.9 s vs 11.7 s, SCALE.md),
    * and at the 189M-row grid the forced broadcast would ship a ~95M-row
    * relation — past Spark's 8 GiB broadcast hard limit, i.e. the plan
    * fails outright. This form computes the same ddof=0 z-score with
    * window aggregates over (group, cells): a single exchange of the fact
    * table, one sort, no second relation. Use it when no
    * `referencePeriod`/pre-computed climatology is needed (the climatology
    * is the full series itself).
    */
  def standardizedAnomalyWindowed(
      df: DataFrame,
      spec: SeriesSpec,
      group: Temporal.ClimGroup = Temporal.ByMonth
  ): DataFrame = {
    spec.validate(df)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((group.name +: spec.keyCols).map(col): _*)
    stampZscore(
      df.withColumn(group.name, group.expr(col(spec.tsCol)))
        .withColumn("anomaly", col(spec.valueCol) - avg(col(spec.valueCol)).over(w))
        .withColumn("zscore",
          zdiv(col("anomaly"), stddev_pop(col(spec.valueCol)).over(w))),
      spec, None)
  }

  /** Stats-driven plan selection between [[standardizedAnomaly]] (broadcast
    * climatology join) and [[standardizedAnomalyWindowed]] (one window
    * shuffle) — the same decision style as the as-of join's exec choice
    * (`AsOfMerge`: Catalyst size stats vs `autoBroadcastJoinThreshold`),
    * applied to the measured z-score crossover in SCALE.md: the broadcast
    * form wins while the climatology is small, is 5× slower by
    * (cell × day-of-year) at the medium probe grid, and exceeds Spark's
    * broadcast hard limit outright at the large one.
    *
    * The climatology's size is `group.cardinality × cells × row-width`:
    * the group factor is static (12/366/4), the cell count comes from
    * Catalyst column stats when ANALYZE/CBO has them, else from one
    * `approx_count_distinct` probe over the (column-pruned) key columns —
    * pass `climRowsHint` to skip that job when the grid shape is known.
    * A user-supplied `climatology` is sized directly from its own plan
    * stats, exactly as a join side would be. Decision, against
    * `spark.sql.autoBroadcastJoinThreshold`:
    *   - fits → broadcast join (identical plan to [[standardizedAnomaly]]);
    *   - too big, full-series climatology → windowed form (proven
    *     result-identical by `q_zscore_windowed` vs `q_zscore_severity`);
    *   - too big, reference-period/user climatology (windowed form is
    *     semantically unavailable) → the same equi-join WITHOUT the
    *     broadcast hint, so Spark shuffle-joins instead of dying on an
    *     oversized broadcast build.
    */
  def standardizedAnomalyAuto(
      df: DataFrame,
      spec: SeriesSpec,
      group: Temporal.ClimGroup = Temporal.ByMonth,
      referencePeriod: Option[(String, String)] = None,
      climatology: Option[DataFrame] = None,
      climRowsHint: Option[Long] = None
  ): DataFrame = {
    spec.validate(df)
    val threshold =
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val climBytes: BigInt = climatology match {
      case Some(c) => c.queryExecution.optimizedPlan.stats.sizeInBytes
      case None =>
        val cells = climRowsHint.map(r => BigInt(r) / group.cardinality.max(1))
          .getOrElse(estimatedCells(df, spec))
        cells * group.cardinality * climRowWidth(df, spec)
    }
    val fits = threshold > 0 && climBytes <= threshold
    if (!fits && referencePeriod.isEmpty && climatology.isEmpty)
      standardizedAnomalyWindowed(df, spec, group)
    else
      zscoreJoin(df, spec, group, referencePeriod, climatology, broadcastClim = fits)
  }

  /** Distinct (cell) count for the selector: free from Catalyst column
    * stats when present; otherwise one HLL aggregate over just the key
    * columns (column-pruned scan, map-side partials, one-row result).
    */
  private def estimatedCells(df: DataFrame, spec: SeriesSpec): BigInt = {
    if (spec.keyCols.isEmpty) return BigInt(1)
    val stats = df.queryExecution.optimizedPlan.stats
    val byName = stats.attributeStats.toSeq.collect {
      case (attr, cs) if cs.distinctCount.isDefined =>
        attr.name -> cs.distinctCount.get
    }.toMap
    if (spec.keyCols.forall(byName.contains)) {
      val product = spec.keyCols.map(byName).product
      stats.rowCount.fold(product)(product.min) // cells can't exceed rows
    } else
      BigInt(df.select(approx_count_distinct(
        struct(spec.keyCols.map(col): _*))).head().getLong(0))
  }

  /** Width of one climatology row in the hashed relation: group int +
    * key columns + the two double aggregates + per-row object overhead.
    */
  private def climRowWidth(df: DataFrame, spec: SeriesSpec): Long =
    4L + spec.keyCols.map(k => df.schema(k).dataType.defaultSize.toLong).sum +
      16L + 32L

  /** Severity classification of a z-score column — the 6-deep nested
    * `xr.where` chain of the reference (`metrics/anomalies.py:220-247`) as
    * a single CaseWhen expression, int8 classes −3…3.
    */
  def severity(z: Column): Column =
    // null/NaN propagate as NULL (the NullHandlingSpec contract): both
    // fail every comparison below, so without this branch a MISSING
    // observation (or a 0/0 zero-variance NaN) fell through otherwise(3)
    // and was classified "extremely above normal"
    when(z.isNull || isnan(z), lit(null))
      .when(z < -2, -3)
      .when(z < -1.5, -2)
      .when(z < -1, -1)
      .when(z <= 1, 0)
      .when(z <= 1.5, 1)
      .when(z <= 2, 2)
      .otherwise(3)
      .cast("tinyint")

  def classifySeverity(df: DataFrame, zscoreCol: String = "zscore"): DataFrame =
    // reference `metrics/anomalies.py:240-244`: flag semantics ride as attrs
    CfAttrs.stamp(df.withColumn("severity", severity(col(zscoreCol))),
        "severity") { b =>
      b.putString("long_name", s"Anomaly severity of $zscoreCol")
      b.putLongArray("flag_values", Array(-3L, -2L, -1L, 0L, 1L, 2L, 3L))
      b.putString("flag_meanings",
        "extremely_below severely_below moderately_below " +
          "near_normal moderately_above severely_above extremely_above")
    }

  /** J3/F-UDF1 — percentile rank of each value within its cell's historical
    * distribution (reference `metrics/anomalies.py:140-217`): clamped
    * piecewise-linear interpolation against the sorted threshold vector.
    * Thresholds ride along as a broadcast ArrayType column.
    */
  def percentileRank(
      df: DataFrame,
      spec: SeriesSpec,
      percentiles: Seq[Int] = Percentiles.DefaultPercentiles,
      group: Temporal.ClimGroup = Temporal.ByMonth,
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    val thr = Percentiles.thresholdVectors(df, spec, percentiles, Some(group), referencePeriod)
    val pcts = typedLit(percentiles.map(_.toDouble))
    val out = joinClim(df, spec, group, thr)
      .withColumn("percentile_rank",
        graft.plans.Expressions.percentile_rank(
          col(spec.valueCol).cast("double"), col("vals"), pcts))
      .drop("vals")
    // reference `metrics/anomalies.py:201-202`
    CfAttrs.stamp(out, "percentile_rank") { b =>
      b.putString("long_name", s"Percentile rank of ${spec.valueCol}")
      b.putString("units", "%")
    }
  }
}
