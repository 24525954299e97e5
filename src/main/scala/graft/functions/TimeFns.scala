package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Calendar/time column expressions shared by the temporal operators.
  *
  * Mirrors the reference's resample-label semantics (SURVEY.md §7.4-2):
  * xarray `"ME"`/`"YE"` label by period end, `"QE-NOV"` anchors quarters at
  * November so DJF spans the year boundary (reference
  * `metrics/temporal.py:38,70,108`).
  */
object TimeFns {

  /** First instant of the calendar month (canonical month bucket). */
  def monthStart(ts: Column): Column = date_trunc("month", ts)

  /** Month-end date label, matching pandas resample("ME") labeling
    * (reference `metrics/temporal.py:38`).
    */
  def monthEnd(ts: Column): Column = last_day(ts)

  /** Meteorological season label: DJF, MAM, JJA, SON
    * (reference `metrics/temporal.py:73-83`).
    */
  def season(ts: Column): Column = {
    val m = month(ts)
    when(m.isin(12, 1, 2), "DJF")
      .when(m.isin(3, 4, 5), "MAM")
      .when(m.isin(6, 7, 8), "JJA")
      .otherwise("SON")
  }

  /** Season-year with DJF rolling December into the following year —
    * the `QE-NOV` anchor of the reference (`metrics/temporal.py:70`):
    * Dec 2020 belongs to DJF 2021.
    */
  def seasonYear(ts: Column): Column = year(add_months(ts, 1))

  /** Rows whose `ts` lies in [start, end], both bounds cast to timestamp
    * by Spark (`2020`, `2020-01` and `2020-01-15 06:00` all cast). Under
    * ANSI mode a bound that does not cast fails the query when it is
    * planned; the HTTP server rejects such bounds before (a 422).
    */
  def inTimeWindow(ts: Column, start: String, end: String): Column =
    ts.between(lit(start).cast("timestamp"), lit(end).cast("timestamp"))

  /** Epoch seconds (with fraction) from a timestamp column. The extra
    * timestamp cast handles TIMESTAMP_NTZ parquet columns (cannot cast NTZ
    * to double directly); under the UTC session timezone it is value-
    * preserving and identical to DuckDB `epoch(ts)` for oracle parity.
    */
  def epochSeconds(ts: Column): Column = ts.cast("timestamp").cast("double")

  /** Timestamp → fractional years since the Unix epoch using a 365.25-day
    * year, the reference's trend time axis (`metrics/trends.py:36-39`).
    */
  def fractionalYears(ts: Column): Column =
    epochSeconds(ts) / lit(365.25 * 86400.0)

  /** Epoch-aligned tumbling time bucket of `seconds` width. Equivalent to
    * `window(ts, s"...")(start)` but emitted as a plain timestamp so batch
    * and DuckDB agree bit-for-bit.
    */
  def timeBucket(ts: Column, seconds: Long): Column =
    timestamp_seconds(floor(epochSeconds(ts) / seconds.toDouble) * seconds)

  /** Normalize longitude to the ±180 convention
    * (reference `ingest/netcdf_reader.py:134-137`).
    */
  def normalizeLon(lon: Column): Column =
    pmod(lon + lit(180.0), lit(360.0)) - lit(180.0)
}
