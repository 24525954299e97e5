package graft.metrics

import graft.model.{CfAttrs, SeriesSpec}
import graft.functions.{StatsFns, TimeFns}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-cell trend estimation (reference `metrics/trends.py`, SURVEY.md
  * A8-A10, F-UDF2/3).
  *
  * A8/A10 are pure `regr_*` declarative aggregates — partial/final hash
  * aggregation, no custom state, fully scalable. A9 (Mann-Kendall) is the
  * one genuine custom UDAF: an [[Aggregator]] whose buffer collects the
  * cell's series (climate-length, ~10³ points — bounded by
  * [[MannKendallAgg.MaxSeriesLength]] because the kernel is O(n²) pairs).
  */
object Trends {

  /** A8 — OLS slope per cell in units per year
    * (reference `metrics/trends.py:12-65`). The reference regresses against
    * years since the series start; slope is shift-invariant, so regressing
    * against epoch-based fractional years gives the identical value with no
    * second pass to find t0.
    */
  def linearTrend(
      df: DataFrame,
      spec: SeriesSpec,
      referencePeriod: Option[(String, String)] = None
  ): DataFrame = {
    spec.validate(df)
    val in = referencePeriod.fold(df) { case (s, e) =>
      df.where(TimeFns.inTimeWindow(col(spec.tsCol), s, e))
    }
    val out = in.groupBy(spec.keyCols.map(col): _*)
      .agg(regr_slope(col(spec.valueCol), TimeFns.fractionalYears(col(spec.tsCol)))
        .as("trend"))
    // reference `metrics/trends.py:55-62`: units = "<input units> per year"
    // (CF provenance in StructField.metadata, like Temporal/Percentiles)
    CfAttrs.stamp(out, "trend") { b =>
      b.putString("long_name", s"Linear trend of ${spec.valueCol}")
      b.putString("units", s"${unitsOf(df, spec)} per year")
      b.putString("trend_method", "ordinary least squares")
      referencePeriod.foreach { case (s0, e0) =>
        b.putString("trend_period", s"$s0 to $e0") }
    }
  }

  /** The input value column's `units` attr, or the reference's literal
    * fallback `"units"` (`trends.py:57` — `attrs.get('units', 'units')`).
    */
  private def unitsOf(df: DataFrame, spec: SeriesSpec): String = {
    val m = CfAttrs.of(df, spec.valueCol)
    if (m.contains("units")) m.getString("units") else "units"
  }

  /** A10 — OLS slope with Student-t confidence interval
    * (reference `metrics/trends.py:170-244`). slope/std_err come from
    * `regr_*` built-ins (std_err = sqrt(SSE/(n−2)/Sxx), the
    * `scipy.stats.linregress` definition); the t-quantile runs as a scalar
    * UDF over the aggregated per-cell rows only.
    */
  def trendWithConfidence(
      df: DataFrame,
      spec: SeriesSpec,
      confidence: Double = 0.95
  ): DataFrame = {
    spec.validate(df)
    val x = TimeFns.fractionalYears(col(spec.tsCol))
    val y = col(spec.valueCol)
    val out = df.groupBy(spec.keyCols.map(col): _*)
      .agg(
        regr_slope(y, x).as("trend"),
        regr_count(y, x).as("n"),
        regr_sxx(y, x).as("sxx"),
        regr_syy(y, x).as("syy"))
      // SSE = Syy − slope²·Sxx; std_err = sqrt(SSE/(n−2)/Sxx)
      .withColumn("std_err",
        sqrt(greatest(col("syy") - col("trend") * col("trend") * col("sxx"), lit(0.0))
          / (col("n") - 2) / col("sxx")))
      .withColumn("margin",
        StatsFns.tQuantileUdf(lit((1 + confidence) / 2), col("n") - 2) * col("std_err"))
      .withColumn("trend_lower", col("trend") - col("margin"))
      .withColumn("trend_upper", col("trend") + col("margin"))
      .drop("sxx", "syy", "margin")
    // reference `metrics/trends.py:230-243`: per-year units on the slope,
    // confidence-labelled bounds, confidence_level provenance
    val pct = f"${confidence * 100}%.0f"
    val u = s"${unitsOf(df, spec)} per year"
    val s1 = CfAttrs.stamp(out, "trend") { b =>
      b.putString("long_name", s"Linear trend of ${spec.valueCol}")
      b.putString("units", u)
      b.putDouble("confidence_level", confidence)
    }
    val s2 = CfAttrs.stamp(s1, "trend_lower") { b =>
      b.putString("long_name", s"Trend lower bound ($pct%)")
      b.putString("units", u)
    }
    CfAttrs.stamp(s2, "trend_upper") { b =>
      b.putString("long_name", s"Trend upper bound ($pct%)")
      b.putString("units", u)
    }
  }

  /** Mann-Kendall + Sen's slope result (reference `metrics/trends.py:68-167`). */
  case class MKResult(
      s: Long, var_s: Double, z: Double, p_value: Double,
      sen_slope: Double, significant: Boolean)

  case class MKInput(t: Double, v: Double)

  /** A9/F-UDF2 — Mann-Kendall trend test as a typed Aggregator.
    *
    * Buffer = the cell's (t, v) points; merge is concatenation, so partial
    * aggregation works across partitions. finish() sorts by t and runs the
    * O(n²) kernel: S = Σ sign(v_j − v_i), tie-corrected Var(S), z with the
    * ±1 continuity correction, two-tailed normal p, Sen's slope = median of
    * (v_j − v_i)/(j − i) over *index* distance — matching the reference
    * kernel, which sees only the positionally-ordered array.
    */
  class MannKendallAgg(alpha: Double)
      extends Aggregator[MKInput, Vector[(Double, Double)], MKResult] {

    def zero: Vector[(Double, Double)] = Vector.empty

    def reduce(b: Vector[(Double, Double)], a: MKInput): Vector[(Double, Double)] =
      if (a.v.isNaN) b
      else if (b.length >= MannKendallAgg.MaxSeriesLength)
        // LOUD, not a silent partition-order-dependent truncation: which
        // points survive a take() depends on merge order, so S/p/slope
        // would differ run to run on the same input
        sys.error(s"mannKendall: series exceeds " +
          s"${MannKendallAgg.MaxSeriesLength} points for one cell — " +
          "aggregate to a coarser resolution first (the kernel is O(n²) pairs)")
      else b :+ ((a.t, a.v))

    def merge(b1: Vector[(Double, Double)], b2: Vector[(Double, Double)]): Vector[(Double, Double)] =
      {
      val m = b1 ++ b2
      if (m.length > MannKendallAgg.MaxSeriesLength)
        sys.error(s"mannKendall: series exceeds " +
          s"${MannKendallAgg.MaxSeriesLength} points for one cell — " +
          "aggregate to a coarser resolution first (the kernel is O(n²) pairs)")
      m
    }

    def finish(buf: Vector[(Double, Double)]): MKResult = {
      // total order (t, v): ties on t alone would leave the pair order —
      // and therefore S on tied-timestamp data — partition-dependent
      val x = buf.sortBy(p => (p._1, p._2)).map(_._2).toArray
      val n = x.length
      if (n < 4) return MKResult(0L, Double.NaN, Double.NaN, Double.NaN, Double.NaN, significant = false)

      var s = 0L
      val slopes = new Array[Double](n * (n - 1) / 2)
      var k = 0
      var i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) {
          s += java.lang.Math.signum(x(j) - x(i)).toLong
          slopes(k) = (x(j) - x(i)) / (j - i)
          k += 1
          j += 1
        }
        i += 1
      }

      // tie-corrected variance of S (reference trends.py:108-116)
      val tieCounts = x.groupBy(identity).values.map(_.length).filter(_ > 1)
      var varS = n.toDouble * (n - 1) * (2 * n + 5) / 18.0
      tieCounts.foreach(t => varS -= t.toDouble * (t - 1) * (2 * t + 5) / 18.0)

      val z =
        if (s > 0) (s - 1) / math.sqrt(varS)
        else if (s < 0) (s + 1) / math.sqrt(varS)
        else 0.0
      val p = StatsFns.twoTailedP(z)

      java.util.Arrays.sort(slopes)
      val m = slopes.length
      val sen = if (m == 0) Double.NaN
        else if (m % 2 == 1) slopes(m / 2)
        else (slopes(m / 2 - 1) + slopes(m / 2)) / 2.0

      MKResult(s, varS, z, p, sen, p < alpha)
    }

    def bufferEncoder: Encoder[Vector[(Double, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[MKResult] = Encoders.product[MKResult]
  }

  object MannKendallAgg {
    /** Kernel is O(n²) per cell: cap series length. 2000 points bounds the
      * finish()-time slopes array at ~2M doubles (16 MB) per group — safe
      * with many groups finishing concurrently. Climate series are ~10³
      * points; aggregate to a coarser step first if longer.
      */
    val MaxSeriesLength = 2000
  }

  /** A9 — Mann-Kendall significance per cell. Input series should be
    * one value per (cell, time step); pre-aggregate (e.g. monthly means)
    * for longer series.
    */
  def mannKendall(df: DataFrame, spec: SeriesSpec, alpha: Double = 0.05): DataFrame = {
    spec.validate(df)
    val mk = udaf(new MannKendallAgg(alpha))
    // null rows are GAPS and are skipped like the NaN path inside the
    // aggregator — without this filter the typed MKInput(Double, Double)
    // encoder rejects a null value/timestamp with an opaque
    // "Null value appeared in non-nullable field" at runtime
    val out = df.where(col(spec.tsCol).isNotNull && col(spec.valueCol).isNotNull)
      .groupBy(spec.keyCols.map(col): _*)
      .agg(mk(TimeFns.epochSeconds(col(spec.tsCol)), col(spec.valueCol).cast("double")).as("mk"))
      .select(spec.keyCols.map(col) :+ col("mk.*"): _*)
    // reference `metrics/trends.py:154-166`: long_name provenance on the
    // slope/p/significance outputs plus the test+alpha attrs
    val s1 = CfAttrs.stamp(out, "sen_slope") { b =>
      // the reference stamps NO units here (`trends.py:155` — Sen's slope
      // is per index step, not per year); long_name + test + alpha only
      b.putString("long_name", s"Sen's slope of ${spec.valueCol}")
      b.putString("test", "Mann-Kendall")
      b.putDouble("alpha", alpha)
    }
    val s2 = CfAttrs.stamp(s1, "p_value")(
      _.putString("long_name", "Mann-Kendall p-value"))
    CfAttrs.stamp(s2, "significant")(
      _.putString("long_name", s"Significant trend at alpha=$alpha"))
  }
}
