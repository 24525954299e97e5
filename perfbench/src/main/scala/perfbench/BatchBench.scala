package perfbench

import graft.metrics.Anomalies
import graft.model.Tables
import graft.queries.TemporalQ
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** `batch_queries`: one client runs the climate-metric query packs
  * (`graft.SparkEntry.queries`) back to back over seeded tables, each run
  * into a noop sink as the program's own bench does.
  *
  * Set-up: generate lineitem / events / documents parquet from the seed,
  * then one untimed run of every query whose collected output is checked
  * (row count and an order-independent checksum) against the values
  * recorded for the seed (seeds 1 and 2; other seeds check only for a
  * non-empty result).
  * Traced runs add the anomaly family's own share and the store
  * lifecycle replay ([[StoreReplay]]).
  */
object BatchBench {

  val Queries: Seq[String] = Seq(
    "q_monthly_mean", "q_rolling_mean", "q_clim_percentiles", "q_anomaly",
    "q_zscore_severity", "q_percentile_rank", "q_linear_trend",
    "q_mann_kendall", "q_minhash_dedup")
  /** One cycle: every query once, and q_zscore_severity and
    * q_percentile_rank twice, so the median and the tail fall among the
    * middle queries rather than on the edge to q_minhash_dedup. Doubling
    * q_anomaly as well made the median the mean of the slowest q_anomaly
    * and the fastest q_percentile_rank (about 0.3 s and 0.5 s in a traced
    * run at seed 1); its ten-seed spread was 0.248, against 0.12 and 0.16
    * without it.
    */
  val Cycle: Seq[String] = Queries ++ Seq("q_zscore_severity", "q_percentile_rank")
  /** The timed phase runs `--seconds / CycleSeconds` cycles; a cycle takes
    * 5 to 7 s on a 4-core host.
    */
  val CycleSeconds = 8.0

  // table sizes: about a tenth of the sf0.1 bench tables
  val LineitemRows = 60000L
  val EventRows = 10000L
  val Docs = 1000L

  private def h(seed: Long, salt: Int, cols: org.apache.spark.sql.Column*) =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  private def pick(x: org.apache.spark.sql.Column, vs: Seq[String]) =
    element_at(typedLit(vs), (pmod(x, lit(vs.length)) + 1).cast("int"))

  /** lineitem / events / documents with the driver tables' column names. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val id = col("id")
    val li = spark.range(LineitemRows).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      pmod(h(seed, 1, id), lit(20000L)).as("l_partkey"),
      pmod(h(seed, 2, id), lit(1000L)).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 3, id), lit(50L)) + 1).cast("double").as("l_quantity"),
      ((pmod(h(seed, 3, id), lit(50L)) + 1) *
        (lit(900.0) + pmod(h(seed, 4, id), lit(100000L)) / 100.0)).as("l_extendedprice"),
      (pmod(h(seed, 5, id), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(seed, 6, id), lit(9L)) / 100.0).as("l_tax"),
      pick(h(seed, 7, id), Seq("A", "N", "R")).as("l_returnflag"),
      pick(h(seed, 8, id), Seq("F", "O")).as("l_linestatus"),
      (lit("1992-01-02").cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0),
          pmod(h(seed, 9, id), lit(2526L)).cast("int"))).as("l_shipdate"))
    val ev = spark.range(EventRows).select(
      id.as("event_id"),
      timestamp_seconds(lit(1704067200L) +
        pmod(h(seed, 10, id), lit(90L * 86400L))).as("ts"),
      pmod(h(seed, 11, id), lit(2000L)).as("user_id"),
      pick(h(seed, 12, id), Seq("view", "click", "cart", "purchase")).as("event_type"),
      (pmod(h(seed, 13, id), lit(100000L)) / 100.0).as("value"),
      lit("{}").as("props"))
    val docs = graft.bench.DataGen.corpus(spark, Docs, wordsPerDoc = 60,
        vocab = 3000, dupEvery = 10, seed = seed)
      .select(col("id").as("doc_id"), col("text"), lit("en").as("lang"),
        lit("gen").as("source"), length(col("text")).cast("long").as("n_chars"))
    Seq("lineitem" -> li, "events" -> ev, "documents" -> docs).foreach { case (t, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
  }

  /** Row count and an order-independent checksum of a query's output. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  def run(c: Ctx): Report = {
    val report = new Report("batch_queries")
    val dir = c.path("tables")
    report.mark("session")
    generate(c.spark, c.seed, dir)
    report.mark("fixture")

    val all = graft.SparkEntry.queries
    val recorded = Expected.batch(c.seed)
    // warm-up: one checked run of each query
    Queries.foreach { q =>
      val (rows, sum) = digest(all(q)(c.spark, dir))
      report.check(rows > 0, s"$q returned no rows")
      recorded.get(q).foreach { case (r, s) =>
        report.check(rows == r && sum == s,
          s"$q: rows $rows checksum $sum, recorded rows $r checksum $s")
      }
      report.notes += s"$q rows=$rows checksum=$sum"
    }

    val rnd = new Random(c.seed)
    val phase = new Phase(c.counters)
    report.mark("warmup")
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    // a fixed number of whole cycles, each in a seeded order: the same
    // operations whatever the host's speed, about --seconds long
    (0 until math.max(1, math.round(c.seconds / CycleSeconds).toInt)).foreach { _ =>
      rnd.shuffle(Cycle).foreach { q =>
        val s = now
        val ok = try { noop(all(q)(c.spark, dir)); true }
          catch { case scala.util.control.NonFatal(e) =>
            report.notes += s"$q failed: ${e.getMessage}"; false }
        report.ops += Op("query", q, s, s, now, ok)
      }
    }
    val elapsed = now
    report.record(phase.end(), report.ops.length)
    report.scalars("work_per_s") = report.ops.length / elapsed

    if (c.trace) {
      // the anomaly family's own share: query time not spent in the bare
      // metrics operator (same input, same output columns, no rounding)
      val li = Tables.lineitem(c.spark, dir)
      val spec = TemporalQ.liSeries
      val keys = Seq(col("l_orderkey"), col("l_linenumber"))
      val pairs = Seq(
        "q_anomaly" -> (() => Anomalies.anomaly(li, spec)
          .select(keys :+ col("anomaly"): _*)),
        "q_zscore_severity" -> (() =>
          Anomalies.classifySeverity(Anomalies.standardizedAnomaly(li, spec))
            .select(keys ++ Seq(col("zscore"), col("severity")): _*)),
        "q_percentile_rank" -> (() =>
          Anomalies.percentileRank(li, spec, percentiles = Seq(10, 25, 50, 75, 90))
            .select(keys :+ col("percentile_rank"): _*)))
      val (bare, full) = pairs.map { case (q, op) =>
        noop(op()) // the bare plan's first run compiles its own code
        val t = (0 until 3).map { _ =>
          (Report.secs(noop(op())), Report.secs(noop(all(q)(c.spark, dir))))
        }
        (Report.median(t.map(_._1)), Report.median(t.map(_._2)))
      }.unzip
      report.layers("queries.own_share") = 1.0 - bare.sum / full.sum
      StoreReplay.run(c, report)
    }
    report
  }
}
