package graft

import graft.bench.Meter
import graft.bench.Meter.f3
import org.apache.spark.sql.SparkSession

/** Benchmark harness on the BASELINE.md protocol (reference
  * `benchmark_suite.py:72-117`): per query 3 warmup runs + 20 timed
  * iterations, reporting mean/median/p95/p99/min/max. The reference's
  * latency gate is max < 2000 ms per query — measured here on the true
  * max, not a median proxy.
  *
  * The action is a noop-format write so projections/expressions are fully
  * computed — `count()` would let Catalyst drop unreferenced columns
  * (md5s, ranks…) and fake the numbers.
  *
  * Prints ONE JSON line: {"metric","value","unit","queries","sf",...} —
  * "queries" carries the per-query median (the driver's compare key),
  * "stats" the full distribution, "layers" each query's Spark work per
  * timed run ([[graft.bench.Meter.SparkCounter]]): plan/exec split, jobs,
  * stages, tasks, task CPU, input, shuffle and spill.
  *
  * Exit code contract (r17): 0 = gate pass; 1 = gate fail attributable
  * to the PLAN (some gate-breaching iteration ran steal-clean); 3 = gate
  * fail where EVERY gate-breaching iteration carried measured host
  * steal (contamination exceeded the retry budget — the box's fault,
  * self-reported instead of failing a green plan). The JSON's
  * `gate_class` says which.
  */
object Bench {

  /** Headline set: one per operator family (the full query inventory
    * runs in the correctness gate; benching all of it would just time
    * parquet re-reads).
    */
  val headline: Seq[String] = Seq(
    "q_monthly_mean", "q_rolling_mean", "q_clim_percentiles",
    "q_anomaly", "q_zscore_severity", "q_percentile_rank",
    "q_linear_trend", "q_mann_kendall",
    "q_region_revenue", "q_top_suppliers",
    "q_event_windows", "q_sessions", "q_sliding_windows",
    "q_asof_join", "q_asof_merge", "q_asof_broadcast", "q_range_join", "q_salted_agg",
    "q_token_stats", "q_fingerprint",
    "q_ngram_jaccard", "q_minhash_dedup",
    "q_ann_topk", "q_scan_pushdown",
    // the reference suite's own access patterns (benchmark_suite.py:122-195):
    // time_series_point ≅ q_point_series, spatial_subset ≅ q_region_stats
    "q_point_series", "q_region_stats",
    // round-5 scale operators: z-ordered bbox read (store write memoized,
    // warmup pays it), skew-safe join, mergeable-state stats, cube
    "q_zorder_bbox", "q_salted_join", "q_incremental_stats", "q_cube_revenue",
    "q_bpe_tokens",
    // round-7..9 LLM-pipeline surface: semantic dedup, persisted-index
    // serve, span dedup, trained quality model — benched so a perf
    // regression in this axis trips the gate, not just correctness
    "q_semantic_dedup", "q_ivfpq_served", "q_span_dedup", "q_quality_model",
    // round-13 additions: STAC emission (multi-distinct extent agg), URL
    // curation (normalize → blocklist → WindowGroupLimit domain cap),
    // temperature rebalancing (count agg + driver thresholds + md5 scan),
    // block spans (windowed cumsum + explode manifest)
    "q_stac_item", "q_url_curation", "q_temperature_mix", "q_block_spans",
    // round-13 web-pipeline front end + serving-shape index paths: WARC
    // archive scan (fixture amortized per JVM — the READ is the
    // operator), HTML boilerplate removal, persisted-MinHash-index query,
    // int8-quantized ANN
    "q_warc_ingest", "q_html_extract", "q_dedup_index", "q_sq_ann",
    // round-14: the SQ×IVF composition benched next to its brute twin;
    // round-15: its persisted-store serving path (fit-once/serve-many —
    // the shape a deployment actually runs; store build amortized in
    // warmup via the per-(app,dir) fixture memo); round-16: serving from
    // the STREAM-maintained store (the annIndexStream lifecycle — the
    // streaming build runs once in warmup via the same memo, the timed
    // plan is the pure store serve); round-17: its int8 twin
    "q_sq_ivf_ann", "q_sq_ivf_served", "q_stream_ann", "q_stream_sq_ivf",
    // round-16: overlapping document chunking (the embedding-ingest map)
    "q_chunk_docs",
    // the end-to-end composition: crawl bytes -> extraction -> scoring ->
    // near-dup removal -> rollup in one plan
    "q_web_pipeline")

  final case class Stats(mean: Double, median: Double, p95: Double,
                         p99: Double, min: Double, max: Double)

  /** One query's measurement under the outlier protocol (doc at the
    * `measure` site in main). Object-level so the JSON emitter below is
    * unit-testable — the r17→r18 driver comparison was lost to an
    * unparseable BENCH_r17.json, so the one-line contract now has a spec
    * (BenchJsonSpec) feeding this type synthetic values.
    */
  final case class Measured(steady: Stats, medianClean: Double,
                            cleanIters: Int, rawMax: Double, retried: Int,
                            stealSec: Double, gcSec: Double,
                            budgetRaised: Boolean, budgetExhausted: Boolean,
                            maxCleanIter: Double, dirtyBreachIters: Int,
                            cleanBreachIters: Int)

  /** Build the ONE JSON line the driver parses — pure function of the
    * measurements so its contract is testable without running Spark:
    * exactly one line (no embedded newlines), ASCII-only (the driver's
    * log capture has been observed decoding non-ASCII bytes lossily —
    * BENCH_r18's artifact shows em-dashes as '?'; a multibyte sequence
    * split across a read boundary is a parse risk the policy prose is
    * not worth), every value a finite JSON number or bool.
    * `layers` holds each query's Spark work summed over its timed runs
    * (`iters` plus its retries); a measured query with an entry reports
    * the per-run mean.
    * Returns (line, gatePassed, contaminated).
    */
  def gateJson(
      results: Seq[(String, Option[Measured])],
      iters: Int, warmup: Int, gateSec: Double,
      stealThresh: Double, cleanThresh: Double,
      maxRetries: Int, maxRetriesStorm: Int, stormStealSec: Double,
      gateChecks: Int, gateDeferredSteps: Int,
      only: Set[String], upJson: String, sfDir: String,
      layers: Map[String, Meter.Work])
      : (String, Boolean, Boolean) = {
    // published per-query value = the steal-clean median (falls back to
    // the plain median when too few clean iterations exist — clean_iters
    // in stats says which); the GATE stays on the all-iterations max
    val qs = results.map { case (k, st) =>
      "\"" + k + "\":" + f3(st.map(_.medianClean).getOrElse(-1.0))
    }.mkString("{", ",", "}")
    val statsJson = results.collect { case (k, Some(m)) =>
      val s = m.steady
      s""""$k":{"mean":${f3(s.mean)},"median":${f3(s.median)},""" +
        s""""median_clean":${f3(m.medianClean)},"clean_iters":${m.cleanIters},""" +
        s""""p95":${f3(s.p95)},"p99":${f3(s.p99)},"min":${f3(s.min)},"max":${f3(s.max)},""" +
        s""""max_clean":${f3(m.maxCleanIter)},""" +
        s""""raw_max":${f3(m.rawMax)},"retried":${m.retried},""" +
        s""""budget_raised":${m.budgetRaised},""" +
        s""""steal_sec":${f3(m.stealSec)},"gc_sec":${f3(m.gcSec)}}"""
    }.mkString("{", ",", "}")
    val layersJson = results.collect { case (k, Some(m)) =>
      layers.get(k).map(w => s""""$k":${w.per(iters + m.retried).json}""")
    }.flatten.mkString("{", ",", "}")
    val total = results.flatMap(_._2).map(_.medianClean).sum
    val worstMax = results.flatMap(_._2).map(_.steady.max).maxOption.getOrElse(-1.0)
    val rawWorstMax = results.flatMap(_._2).map(_.rawMax).maxOption.getOrElse(-1.0)
    val totalRetried = results.flatMap(_._2).map(_.retried).sum
    val gate = results.forall(_._2.exists(_.steady.max < gateSec))
    // rc classification (r17): a failing query whose EVERY gate-breaching
    // accepted iteration carried measured steal (and none ran clean) is
    // CONTAMINATED — the retry budget was exhausted under a storm, the
    // plan itself never breached on a quiet box. If every failing query
    // is contaminated, the round self-reports rc 3 instead of failing the
    // plan; one clean breach anywhere keeps the honest rc 1.
    val failing = results.collect {
      case (k, Some(m)) if m.steady.max >= gateSec => (k, m)
    }
    val contaminated = gate == false && failing.nonEmpty &&
      failing.forall { case (_, m) =>
        m.cleanBreachIters == 0 && m.dirtyBreachIters > 0
      }
    val gateClass =
      if (gate) "pass" else if (contaminated) "contaminated" else "slow"
    val subset = if (only.isEmpty) "" else
      s""","subset":[${only.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]"""
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"stats":$statsJson,"layers":$layersJson,"iters":$iters,"warmup":$warmup,"worst_max":${f3(worstMax)},"raw_worst_max":${f3(rawWorstMax)},"outliers_retried":$totalRetried,"gate_class":"$gateClass","gate_preflight":{"checks":$gateChecks,"deferred_30s_steps":$gateDeferredSteps},"outlier_policy":"re-measure when own steal+iowait delta > ${stealThresh} cpu-s (any duration; waits out the storm first, bounded) OR >=2s AND >2x running median OR >=1.2s AND >3x running median WITH corroborating evidence (iteration steal > ${cleanThresh} cpu-s or gc > half the excess over baseline); budget $maxRetries/query, raised to $maxRetriesStorm once >$stormStealSec cpu-s of steal is OBSERVED in the query's own iterations (r17); between queries the suite defers (bounded 30s steps) while the box is loaded after a steal-y query; published median = steal-clean median (iteration delta <= ${cleanThresh} cpu-s) when >= max(3, iters/4) clean iterations exist, else plain median (see clean_iters); gate max always over all accepted iterations; rc: 0 pass, 1 plan-slow (a gate breach ran steal-clean), 3 contaminated (every breach carried steal -- box storm, not plan)","pass_max_lt_2s":$gate$subset$upJson,"sf":"$sfDir"}"""
    (line, gate, contaminated)
  }

  /** numpy-style linear-interpolation percentile over a sorted sample. */
  private def pct(sorted: IndexedSeq[Double], p: Double): Double = {
    val rank = p * (sorted.length - 1)
    val lo = rank.toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (rank - lo) * (sorted(hi) - sorted(lo))
  }

  private def stats(times: Seq[Double]): Stats = {
    val s = times.sorted.toIndexedSeq
    Stats(
      mean = s.sum / s.length,
      median = pct(s, 0.5),
      p95 = pct(s, 0.95),
      p99 = pct(s, 0.99),
      min = s.head,
      max = s.last)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // driver contract: bench runs at local[32] unless overridden
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "20").toInt
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "3").toInt
    // dev loop: SPARK_GRAFT_ONLY="q_a,q_b" benches a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
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
    val counter = new Meter.SparkCounter(spark.sparkContext)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    /** One query's measurement under the OUTLIER PROTOCOL (visible by
      * design — both series are reported, nothing is silently dropped):
      * `iters` timed runs; a run is re-measured when EITHER stall
      * evidence holds —
      *
      *  (a) relative, gate-scale only (≥ 2 s): > 2× the running median
      *      (the r9 tails were 9-13× their medians and correlate with
      *      host CPU-steal bursts, not GC — a measured burst put 8.9 s
      *      of steal inside one iteration; see SCALE.md "Bench tail
      *      diagnosis"), or
      *  (b) absolute, steal-aware, ANY duration: the iteration's OWN
      *      /proc/stat steal+iowait delta exceeds `stealThresh`
      *      CPU-seconds. This is the r12 fix (under WHOLE-RUN contention
      *      the running median inflates with the tail, so (a) chases a
      *      moving target and never fires), extended in r15 below the
      *      former 2 s floor.
      *
      * Re-measurement is bounded per query — at `maxRetries`, RAISED to
      * `maxRetriesStorm` once the query's iterations have OBSERVED more
      * than `stormStealSec` cpu-s of cumulative steal (r17: the r16
      * storm exhausted 5 retries under 36.7 cpu-s of measured steal and
      * the gate then counted contaminated maxima; observed steal is
      * exactly the evidence that justifies a bigger budget). A
      * steal-triggered retry also waits out the storm first (bounded
      * deferral) instead of immediately re-measuring into it.
      *
      * The retried value is used WHATEVER it is: a genuinely slow query
      * exhausts its retries and still fails the gate — only an
      * unreproducible stall can be absorbed. `raw` keeps every
      * measurement including the stalls; the JSON reports raw_max and
      * retried per query plus raw_worst_max globally.
      *
      * Residual sub-threshold contamination (sustained mild contention
      * that never trips a retry) is handled by REPORTING, not retrying:
      * each accepted iteration keeps its own steal delta, and the
      * published per-query median is the median of the STEAL-CLEAN
      * iterations (delta ≤ `cleanThresh`) whenever at least
      * max(3, iters/4) of them exist — else the plain median, with
      * `clean_iters` saying which. The GATE is unchanged either way: max
      * is always over every accepted iteration, clean or not — rc then
      * classifies a failure as plan-slow vs contaminated from the
      * per-iteration attribution.
      */
    val maxRetries = 5
    val maxRetriesStorm = 12
    val stormStealSec = 3.0
    // a quiet box measures ≤ ~0.05 CPU-s of steal+iowait inside one
    // iteration (r12's clean queries: ≤ 0.5 over 20+ iterations); 1.0
    // CPU-s inside a single run is unambiguous host interference
    val stealThresh = sys.env.getOrElse("SPARK_GRAFT_STEAL_THRESH", "1.0").toDouble
    // per-iteration steal at or below this is indistinguishable from a
    // quiet box (observed clean-run deltas: 0.00-0.07 CPU-s)
    val cleanThresh = sys.env.getOrElse("SPARK_GRAFT_CLEAN_THRESH", "0.15").toDouble
    // the latency envelope (BASELINE.md: max < 2000 ms/query). Env-
    // overridable so BenchGateSpec can drive REAL child Bench runs
    // through the rc 1 (plan-slow) and rc 3 (contaminated) exits with a
    // sub-millisecond envelope — the rc contract is exercised end to
    // end, not just unit-tested. The stall-retry legs keep their own
    // 2.0/1.2 s constants: they describe this box's noise floor, not
    // the gate.
    val gateSec = sys.env.getOrElse("SPARK_GRAFT_GATE_SECONDS", "2.0").toDouble

    def measure(name: String): Measured = {
      System.gc() // cross-query hygiene: last query's garbage is not ours
      val warms = (1 to warmup).map(_ => runOnce(name)) // footer cache, codegen, JIT
      val raw = scala.collection.mutable.ArrayBuffer[Double]()
      // accepted iterations carry their own steal delta — the clean-median
      // report needs per-iteration attribution, not just the query total
      val steady = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      var retried = 0
      var observedSteal = 0.0
      var budget = maxRetries
      var budgetRaised = false
      val steal0 = Meter.stealIoSeconds()
      val gc0 = Meter.gcSeconds()
      // the counter's key: every timed run, retries included, and nothing
      // else runs Spark work under this group
      spark.sparkContext.setJobGroup(name, s"graft.Bench $name")
      try (1 to iters).foreach { _ =>
        var s0 = Meter.stealIoSeconds()
        var g0 = Meter.gcSeconds()
        var t = runOnce(name)
        var stealD = Meter.stealIoSeconds() - s0
        var gcD = Meter.gcSeconds() - g0
        raw += t
        observedSteal += math.max(stealD, 0.0)
        // r17: the retry budget reacts to steal OBSERVED mid-run, not just
        // a preflight — a storm arriving inside the block gets the bigger
        // budget the moment the evidence exists
        if (!budgetRaised && observedSteal > stormStealSec) {
          budgetRaised = true; budget = maxRetriesStorm
          System.err.println(f"[bench] $name: $observedSteal%.1f cpu-s of " +
            f"steal observed across iterations — raising retry budget to $budget")
        }
        // first measurement with zero warmups: no baseline yet — treat the
        // run as its own baseline so the retry predicate can't index an
        // empty vector (dev-loop WARMUP=0 setting).
        // r18 measurement fix (declared in OPTIMIZATION_r18.md): once >= 3
        // steady iterations exist the warmups DROP OUT of the baseline —
        // for fixture-building queries (q_web_pipeline's first warmup
        // writes the WARC archive, ~30 s) the warmup-inflated median let
        // a 3.0 s steal-clean stall in an early iteration pass the
        // relative retry leg unexamined (observed in the r18 baseline
        // run: accepted max 3.036 s, retried=0, median 0.91 s).
        def baseline = {
          val steadyVals = steady.map(_._1)
          val pool = if (steadyVals.size >= 3) steadyVals.toSeq
                     else steadyVals.toSeq ++ warms
          val s = pool.sorted.toIndexedSeq
          if (s.isEmpty) t else pct(s, 0.5)
        }
        // (a) relative leg at >= 2 s (2x a fast query's median is ordinary
        // variance); (a') r15: a HARSHER multiple fires from 1.2 s with
        // corroborating evidence (iteration steal above the clean bar, or
        // GC accounting for most of the excess) — an unevidenced sub-2s
        // tail is kept as the plan's own; (b) steal leg fires at ANY
        // duration
        while (((t >= 2.0 && t > 2 * baseline) ||
            (t >= 1.2 && t > 3 * baseline &&
              (stealD > cleanThresh || gcD > 0.5 * (t - baseline))) ||
            stealD > stealThresh) && retried < budget) {
          retried += 1
          System.err.println(f"[bench] $name: $t%.3fs stall (median ~$baseline%.3fs, " +
            f"steal+iowait $stealD%.1fs, gc $gcD%.1fs during run), " +
            f"re-measuring ($retried/$budget)")
          // r17: a STEAL-evidenced stall means the box is loaded right
          // now — wait the storm out (bounded) before burning the retry,
          // instead of re-measuring straight into it
          if (stealD > stealThresh)
            Meter.deferWhileContended(s"$name retry", maxSteps = 2)
          System.gc()
          s0 = Meter.stealIoSeconds()
          g0 = Meter.gcSeconds()
          t = runOnce(name)
          stealD = Meter.stealIoSeconds() - s0
          gcD = Meter.gcSeconds() - g0
          raw += t
          observedSteal += math.max(stealD, 0.0)
          if (!budgetRaised && observedSteal > stormStealSec) {
            budgetRaised = true; budget = maxRetriesStorm
            System.err.println(f"[bench] $name: $observedSteal%.1f cpu-s of " +
              f"steal observed — raising retry budget to $budget")
          }
        }
        steady += ((t, stealD))
      } finally spark.sparkContext.clearJobGroup()
      val all = steady.map(_._1).toSeq
      val clean = steady.filter(_._2 <= cleanThresh).map(_._1).toSeq
      val medianClean =
        if (clean.size >= math.max(3, iters / 4)) stats(clean).median
        else stats(all).median
      // gate-breach attribution for the rc classification: of the
      // accepted iterations at or above the gate envelope, how many ran
      // steal-clean (the plan's own tail) vs contaminated
      val breaches = steady.filter(_._1 >= gateSec)
      Measured(stats(all), medianClean, clean.size, raw.max, retried,
        Meter.stealIoSeconds() - steal0, Meter.gcSeconds() - gc0,
        budgetRaised, retried >= budget,
        if (clean.nonEmpty) clean.max else -1.0,
        dirtyBreachIters = breaches.count(_._2 > cleanThresh),
        cleanBreachIters = breaches.count(_._2 <= cleanThresh))
    }

    // ---- GATE SUITE with between-query contention deferral (r17): the
    // r16 storm arrived MID-SUITE and q_web_pipeline absorbed it; the
    // preflight only guarded the upscale block. Now: when the previous
    // query's iterations recorded real steal, pause (bounded) until the
    // box quiets before starting the next query's measurement.
    var gateChecks = 0
    var gateDeferredSteps = 0
    var lastQuerySteal = 0.0
    val results: Seq[(String, Option[Measured])] =
      headline.filter(SparkEntry.queries.contains)
        .filter(q => only.isEmpty || only(q)).map { name =>
        if (lastQuerySteal > 0.5) {
          gateChecks += 1
          val (_, steps) =
            Meter.deferWhileContended(s"gate preflight before $name")
          gateDeferredSteps += steps
        }
        try {
          val m = measure(name)
          lastQuerySteal = m.stealSec
          name -> Some(m)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            name -> None
        }
      }

    // ---- UPSCALE DRIFT PROBE (not part of the gate) — since r17 run in
    // a FRESH CHILD JVM (graft.bench.UpscaleProbe): the r13 and r16
    // in-suite probes both recorded breaches that a fresh JVM could not
    // reproduce (~1× wall) — end-of-suite JVM state distorts the probe
    // even from an isolated newSession, so the probe now inherits
    // nothing and its numbers reproduce standalone by construction.
    val upscaleFactor = sys.env.getOrElse("SPARK_GRAFT_UPSCALE", "8").toInt
    val upJson: String =
      if (only.nonEmpty || upscaleFactor <= 1) ""
      else try {
        val baseMedians = results.collect {
          case (k, Some(m)) => k -> m.medianClean // the published median
        }.toMap
        val mediansFile =
          java.nio.file.Files.createTempFile("graft-basemedians", ".txt")
        java.nio.file.Files.writeString(mediansFile,
          baseMedians.map { case (k, v) => s"$k=$v" }.mkString("\n"))
        // forward this JVM's runtime flags (add-opens, heap, code cache,
        // -D spark props) so the child measures under the same JVM config
        val inArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments
        val fwd = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < inArgs.size()) {
          val a = inArgs.get(i)
          if (a == "--add-opens" && i + 1 < inArgs.size()) {
            fwd += a += inArgs.get(i + 1); i += 2
          } else {
            if (a.startsWith("--add-opens=") || a.startsWith("-X") ||
              a.startsWith("-D")) fwd += a
            i += 1
          }
        }
        val javaBin = s"${System.getProperty("java.home")}/bin/java"
        val cmd = (Seq(javaBin) ++ fwd.toSeq ++ Seq(
          "-cp", System.getProperty("java.class.path"),
          "graft.bench.UpscaleProbe", mediansFile.toString))
        val proc = new ProcessBuilder(cmd: _*).start()
        // drain BOTH pipes on threads so neither can fill and deadlock
        // the child — and so waitFor's timeout is the actual bound (a
        // blocking read-to-EOF on this thread would never time out on a
        // wedged child that keeps stdout open)
        val errPump = new Thread(() => {
          val src = scala.io.Source.fromInputStream(proc.getErrorStream)
          try src.getLines().foreach(l => System.err.println(l))
          catch { case _: Throwable => () }
        })
        errPump.setDaemon(true); errPump.start()
        val outLines =
          java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
        val outPump = new Thread(() => {
          val src = scala.io.Source.fromInputStream(proc.getInputStream)
          try src.getLines().foreach(l => { outLines.add(l); () })
          catch { case _: Throwable => () }
        })
        outPump.setDaemon(true); outPump.start()
        val done = proc.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { proc.destroyForcibly(); sys.error("upscale child timed out") }
        outPump.join(30000); errPump.join(30000)
        java.nio.file.Files.deleteIfExists(mediansFile)
        import scala.jdk.CollectionConverters._
        outLines.asScala.find(_.startsWith("UPSCALE_JSON ")) match {
          case Some(l) => "," + "\"upscale\":" + l.drop("UPSCALE_JSON ".length)
          case None => sys.error(
            s"upscale child exit ${proc.exitValue()}, no UPSCALE_JSON line")
        }
      } catch {
        case e: Throwable =>
          // message may be null (plain NPE) and may carry JSON-hostile
          // control characters or non-ASCII bytes (the driver's log
          // capture decodes those lossily) — the gate JSON must still be
          // printed AND parse
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\p{Cntrl}]|[^\\x20-\\x7E]", " ")
          System.err.println(s"[bench] upscale probe failed: $msg")
          s""","upscale":{"error":"$msg"}"""
      }

    val layers = try counter.read() catch {
      case e: Throwable =>
        System.err.println(s"[bench] no layers: ${e.getMessage}")
        Map.empty[String, Meter.Work]
    }
    val (line, gate, contaminated) = gateJson(
      results, iters, warmup, gateSec,
      stealThresh, cleanThresh, maxRetries, maxRetriesStorm, stormStealSec,
      gateChecks, gateDeferredSteps, only, upJson, sfDir, layers)
    println(line)
    // the full distribution also lands in the repo so the round artifact
    // can't lose it to output truncation; a SPARK_GRAFT_ONLY dev-subset run
    // is marked as such and written to a scratch path so it can never
    // clobber the committed full-run artifact
    val reportPath = if (only.isEmpty) "bench_report.json" else "bench_report_subset.json"
    scala.util.Try(java.nio.file.Files.writeString(
      java.nio.file.Paths.get(reportPath), line + "\n"))
    spark.stop()
    // the latency gate FAILS the process unless explicitly waived — a
    // silent report-only boolean is not a gate (set
    // SPARK_GRAFT_STRICT_GATE=0 for exploratory runs on a loaded box).
    // rc 3 = "contaminated beyond the retry budget": the artifact is red
    // but says the box, not the plan, broke the envelope.
    if (!gate && !sys.env.get("SPARK_GRAFT_STRICT_GATE").contains("0")) {
      val worstMax =
        results.flatMap(_._2).map(_.steady.max).maxOption.getOrElse(-1.0)
      System.err.println(s"[bench] FAIL max-latency gate " +
        s"(${if (contaminated) "contaminated" else "slow"}): " +
        s"worst_max=$worstMax >= ${gateSec}s")
      sys.exit(if (contaminated) 3 else 1)
    }
  }
}
