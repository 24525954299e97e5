package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Meter.f3

/** UPSCALE DRIFT PROBE, as its own main — run by [[graft.Bench]] in a
  * FRESH CHILD JVM (r17): the r13 and r16 rounds both recorded in-suite
  * upscale breaches (q_html_extract 23.8×, q_ann_topk 6.9×) that a fresh
  * JVM could not reproduce (~1× wall) — same-JVM end-of-suite state
  * (code-cache pressure, accumulated session state) distorts the probe
  * even with an isolated newSession. A child JVM inherits nothing, so
  * its numbers reproduce standalone by construction.
  *
  * Probe protocol (unchanged from the in-suite r16 version): the same
  * plans at FACTOR× the gate rows ([[buildTables]] — key-shifted fact
  * copies, letter-substituted documents so dedup stays a bigger workload
  * rather than a quadratic-clique one), 1 warmup + 2 timed iterations,
  * steal-aware bounded retries, per-iteration steal/code-cache/JIT
  * attribution in the JSON, per-query Spark work per timed run in
  * `layers` ([[Meter.SparkCounter]]: plan/exec split, jobs, stages,
  * tasks, task CPU, input, shuffle, spill — the stage attribution that
  * pins a breach on partition collapse, kernel cost or spill), and a
  * contention preflight with bounded deferral.
  *
  * Usage: UpscaleProbe <baseMediansFile>
  *   baseMediansFile: lines of `<query>=<gate-scale clean median sec>`
  *   (ratios are reported against these; missing queries get no ratio).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_UPSCALE, SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_STEAL_THRESH — the Bench contract.
  * Prints ONE line `UPSCALE_JSON {...}` (the `upscale` JSON object) on
  * stdout; exits nonzero only on a harness-level failure.
  */
object UpscaleProbe {

  /** Queries the probe runs — one per scale-sensitive plan family; see
    * the per-entry rationale in git history (moved verbatim from Bench).
    */
  val upscaleQueries: Seq[String] = Seq(
    "q_monthly_mean", "q_anomaly", "q_percentile_rank", "q_linear_trend",
    "q_region_revenue", "q_incremental_stats", "q_token_stats",
    "q_minhash_dedup", "q_ann_topk",
    "q_dedup_index", "q_html_extract", "q_sq_ann", "q_chunk_docs",
    "q_web_pipeline")

  /** The upscaled tables: `factor`× fact tables built by unioning
    * key-shifted copies (matched l_orderkey/o_orderkey shifts keep the
    * join graph), dimension tables copied as-is (broadcast/SMJ shapes
    * preserved). Documents get a per-copy letter substitution so dedup
    * measures a BIGGER corpus — copy 26 would rotate by 26 % 26 = 0, an
    * exact duplicate of copy 0, quadratically inflating the dedup
    * candidate set and silently measuring a different workload; hence
    * the hard cap.
    */
  private def buildTables(spark: SparkSession, sfDir: String, upDir: String,
                          factor: Int): Unit = {
    require(factor >= 1 && factor <= 26,
      s"upscale factor $factor out of [1, 26]: copy 26 would repeat copy 0's " +
        "text verbatim and quadratically inflate the dedup candidate set")
    def copyDim(t: String): Unit =
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$upDir/$t.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach(copyDim)
    def shifted(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      (0 until factor).map(k => f(base, k)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$upDir/$t.parquet")
    }
    shifted("lineitem")((d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 10000000L)))
    shifted("orders")((d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * 10000000L)))
    shifted("events")((d, k) => d
      .withColumn("event_id", col("event_id") + lit(k.toLong * 100000000L))
      .withColumn("user_id", col("user_id") + lit(k.toLong * 10000000L)))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    shifted("documents")((d, k) => d
      .withColumn("doc_id", col("doc_id") + lit(k.toLong * 100000000L))
      .withColumn("text", translate(col("text"),
        alpha + alpha.toUpperCase,
        alpha.drop(k % 26) + alpha.take(k % 26) +
          (alpha.drop(k % 26) + alpha.take(k % 26)).toUpperCase)))
    shifted("embeddings")((d, k) =>
      d.withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000L)))
  }

  def main(args: Array[String]): Unit = {
    val baseMedians: Map[String, Double] = args.headOption.map { p =>
      scala.io.Source.fromFile(p).getLines().flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => scala.util.Try(k.trim -> v.trim.toDouble).toOption
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val upscaleFactor = sys.env.getOrElse("SPARK_GRAFT_UPSCALE", "8").toInt
    val stealThresh =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_THRESH", "1.0").toDouble
    // copy k's letter substitution rotates by k % 26: k = 26 would repeat
    // copy 0 verbatim and quadratically inflate the dedup candidate set
    require(upscaleFactor <= 26,
      s"SPARK_GRAFT_UPSCALE=$upscaleFactor > 26: copy 26 would repeat copy 0")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val upDirPath = java.nio.file.Files.createTempDirectory("graft-upscale")
    val upDir = upDirPath.toString
    try {
      buildTables(spark, sfDir, upDir, upscaleFactor)
      val counter = new Meter.SparkCounter(spark.sparkContext)

      def upOnce(name: String): (Double, Double) = {
        val s0 = Meter.stealIoSeconds()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, upDir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, Meter.stealIoSeconds() - s0)
      }

      final case class UpMeasured(min: Double, raw: Seq[Double],
                                  steal: Seq[Double], retried: Int,
                                  codeMb: Seq[Double], jit: Seq[Long])
      // CONTENTION PREFLIGHT (r16): sample the box's steal rate; while
      // visibly loaded, defer in bounded 30 s steps; if it stays loaded,
      // run anyway with a DOUBLED retry budget and the preflight evidence
      // in the JSON.
      val contendedRate = 0.25
      val (preSteal, preDeferred) =
        Meter.deferWhileContended("upscale preflight", contendedRate)
      val baseRetries = if (preSteal > contendedRate) 4 else 2
      val stormRetries = 6
      val stormStealSec = 3.0
      // a storm can also arrive MID-PROBE (the preflight saw a quiet box
      // in the r17 first run, then three queries measured 7–24 s
      // iterations under live steal): between queries the probe defers
      // like the gate suite, and a query whose own iterations have
      // OBSERVED >3 cpu-s of steal gets the storm budget
      var lastSteal = 0.0
      val measured = upscaleQueries
        .filter(graft.SparkEntry.queries.contains).flatMap { q =>
        try {
          if (lastSteal > 0.5)
            Meter.deferWhileContended(s"upscale preflight before $q",
              contendedRate)
          upOnce(q) // warmup: footer cache + codegen at the new scale
          val raw = scala.collection.mutable.ArrayBuffer[Double]()
          val steals = scala.collection.mutable.ArrayBuffer[Double]()
          val codeMbs = scala.collection.mutable.ArrayBuffer[Double]()
          val jits = scala.collection.mutable.ArrayBuffer[Long]()
          var retried = 0
          def budget: Int =
            if (steals.sum > stormStealSec) stormRetries else baseRetries
          spark.sparkContext.setJobGroup(q, s"upscale $q")
          try (1 to 2).foreach { _ =>
            val j0 = Meter.jitMs
            var (t, sd) = upOnce(q)
            raw += t; steals += sd; codeMbs += Meter.codeCacheMb
            jits += (Meter.jitMs - j0)
            // steal-aware re-measure: a contended iteration is evidence
            // of the box, not the plan — bounded, every attempt stays in
            // the raw series; the >2× leg mirrors the gate suite's
            def stalled: Boolean =
              sd > stealThresh || (raw.size > 1 && t > 2 * raw.min && t >= 2.0)
            while (stalled && retried < budget) {
              retried += 1
              System.err.println(f"[bench] upscale $q: $t%.3fs stall " +
                f"(steal+iowait $sd%.1fs, min so far ${raw.min}%.3fs), " +
                f"re-measuring ($retried/$budget)")
              if (sd > stealThresh)
                Meter.deferWhileContended(s"upscale $q retry", maxSteps = 2)
              val j1 = Meter.jitMs
              val again = upOnce(q)
              t = again._1; sd = again._2
              raw += t; steals += sd; codeMbs += Meter.codeCacheMb
              jits += (Meter.jitMs - j1)
            }
          } finally spark.sparkContext.clearJobGroup()
          lastSteal = steals.sum
          // reported statistic: the MIN of the timed iterations (2
          // samples have no median — the field names say so); raw +
          // steal arrays carry the full evidence either way
          Some(q -> UpMeasured(raw.min, raw.toSeq, steals.toSeq, retried,
            codeMbs.toSeq, jits.toSeq))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] upscale $q failed: ${e.getMessage}")
            None
        }
      }
      val work = counter.read()
      val upQs = measured.map { case (k, m) => "\"" + k + "\":" + f3(m.min) }
        .mkString("{", ",", "}")
      val ratios = measured.flatMap { case (k, m) =>
        baseMedians.get(k).map(b => "\"" + k + "\":" + f3(m.min / b))
      }.mkString("{", ",", "}")
      val attribution = measured.map { case (k, m) =>
        val raws = m.raw.map(f3).mkString("[", ",", "]")
        val st = m.steal.map(f3).mkString("[", ",", "]")
        val cc = m.codeMb.map(v => f"$v%.1f").mkString("[", ",", "]")
        val jt = m.jit.mkString("[", ",", "]")
        s""""$k":{"raw":$raws,"steal_sec":$st,"retried":${m.retried},""" +
          s""""code_cache_mb":$cc,"jit_ms":$jt}"""
      }.mkString("{", ",", "}")
      val layers = measured.map { case (k, m) =>
        s""""$k":${work(k).per(m.raw.size).json}"""
      }.mkString("{", ",", "}")
      println(s"""UPSCALE_JSON {"factor":$upscaleFactor,"iters":2,""" +
        s""""stat":"min_of_2","fresh_jvm":true,""" +
        s""""preflight":{"steal_rate_cpus_per_s":${f3(preSteal)},""" +
        s""""deferred_30s_steps":$preDeferred,"retry_budget":$baseRetries,""" +
        s""""storm_retry_budget":$stormRetries},""" +
        s""""queries_min":$upQs,"ratio_min_vs_base_median":$ratios,""" +
        s""""attribution":$attribution,"layers":$layers}""")
    } finally {
      // 8× fact-table parquet is GBs at the gate scale — never leak it
      java.nio.file.Files.walk(upDirPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      spark.stop()
    }
  }
}
