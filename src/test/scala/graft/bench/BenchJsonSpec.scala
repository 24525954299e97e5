package graft.bench

import graft.Bench
import graft.Bench.{Measured, Stats}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench's ONE-LINE JSON contract, unit-tested against a strict
  * parser. Motivation (r18 verdict #2): the driver could not parse
  * BENCH_r17.json (rc 0, no `parsed` block), so the whole r17→r18
  * round-over-round comparison was lost. This spec feeds the emitter the
  * full 49-query payload plus hostile values (failed query, NaN/Inf
  * seconds, subset mode, upscale error object) and requires: exactly one
  * line, ASCII-only bytes, a strict JSON parse, and every required key,
  * including a `layers` entry per measured query.
  */
class BenchJsonSpec extends AnyFunSuite {

  private def m(med: Double, max: Double = 1.0, retried: Int = 0) = Measured(
    steady = Stats(mean = med, median = med, p95 = max, p99 = max,
      min = med / 2, max = max),
    medianClean = med, cleanIters = 20, rawMax = max, retried = retried,
    stealSec = 0.01, gcSec = 0.02, budgetRaised = false,
    budgetExhausted = false, maxCleanIter = max, dirtyBreachIters = 0,
    cleanBreachIters = 0)

  private def emit(results: Seq[(String, Option[Measured])],
                   only: Set[String] = Set.empty,
                   upJson: String = "",
                   layers: Map[String, Meter.Work] = Map.empty): String =
    Bench.gateJson(results, iters = 20, warmup = 3, gateSec = 2.0,
      stealThresh = 1.0, cleanThresh = 0.15, maxRetries = 5,
      maxRetriesStorm = 12, stormStealSec = 3.0, gateChecks = 1,
      gateDeferredSteps = 0, only = only, upJson = upJson, layers = layers,
      sfDir = "/root/testdata/sf0.1")._1

  /** Totals over 20 timed runs (the emitter reports the mean per run). */
  private def work(v: Double) = Meter.Work(planS = v, execS = v, jobs = v,
    stages = v, tasks = v, taskCpuS = v, inputMb = v, shuffleMb = v,
    spillMb = v)

  private val layerFields = Seq("plan_s", "exec_s", "jobs", "stages",
    "tasks", "task_cpu_s", "input_mb", "shuffle_mb", "spill_mb")

  private def parsed(line: String): JValue = {
    assert(!line.contains("\n") && !line.contains("\r"),
      "the contract is ONE line")
    assert(line.forall(c => c >= 0x20 && c < 0x7f),
      s"line must be printable ASCII (driver log capture decodes " +
        s"non-ASCII lossily); offending chars: " +
        line.filterNot(c => c >= 0x20 && c < 0x7f).map(_.toInt).mkString(","))
    JsonMethods.parse(line, useBigDecimalForDouble = false)
  }

  test("full headline payload emits one strict-parseable ASCII line " +
    "with every required key and all 49 query entries") {
    val results: Seq[(String, Option[Measured])] =
      Bench.headline.map(q => q -> Some(m(0.25, 0.9)))
    val j = parsed(emit(results,
      layers = Bench.headline.map(_ -> work(40.0)).toMap))
    for (k <- Seq("metric", "value", "unit", "queries", "stats", "iters",
        "warmup", "worst_max", "raw_worst_max", "outliers_retried",
        "gate_class", "gate_preflight", "outlier_policy", "pass_max_lt_2s",
        "sf"))
      assert(j \ k != JNothing, s"required key '$k' missing")
    val qs = (j \ "queries").asInstanceOf[JObject].obj
    assert(qs.size == Bench.headline.size &&
      qs.map(_._1).toSet == Bench.headline.toSet,
      "queries must carry exactly the headline set")
    qs.foreach { case (k, v) =>
      assert(v.isInstanceOf[JDouble], s"query '$k' value must be a number") }
    val stats = (j \ "stats").asInstanceOf[JObject].obj
    assert(stats.size == Bench.headline.size)
    for (f <- Seq("mean", "median", "median_clean", "clean_iters", "p95",
        "p99", "min", "max", "max_clean", "raw_max", "retried",
        "budget_raised", "steal_sec", "gc_sec"))
      assert(stats.head._2 \ f != JNothing, s"stats field '$f' missing")
    assert((j \ "gate_class") == JString("pass"))
    assert((j \ "pass_max_lt_2s") == JBool(true))
    val layers = (j \ "layers").asInstanceOf[JObject].obj
    assert(layers.map(_._1).toSet == Bench.headline.toSet,
      "every measured query has a layers entry")
    layers.foreach { case (k, v) =>
      for (f <- layerFields)
        assert(v \ f == JDouble(2.0), s"layers '$k' field '$f': mean of 40 over 20 runs")
    }
  }

  test("hostile values stay inside the contract: failed query, " +
    "non-finite seconds, gate breach, upscale error") {
    val results: Seq[(String, Option[Measured])] = Seq(
      "q_ok" -> Some(m(0.25)),
      "q_failed" -> None, // a thrown query reports -1 and no stats block
      "q_nan" -> Some(m(Double.NaN, Double.PositiveInfinity)),
      "q_breach" -> Some(m(1.0, 3.5)))
    val line = emit(results,
      upJson = ""","upscale":{"error":"boom  went the probe"}""",
      layers = Map("q_ok" -> work(20.0), "q_failed" -> work(20.0),
        "q_nan" -> work(Double.NaN).copy(execS = Double.PositiveInfinity),
        "q_breach" -> work(20.0)))
    val j = parsed(line)
    // NaN/Inf must degrade to the -1 sentinel, not break the parse
    assert((j \ "queries" \ "q_nan") == JDouble(-1.0))
    assert((j \ "stats" \ "q_nan" \ "max") == JDouble(-1.0))
    assert((j \ "queries" \ "q_failed") == JDouble(-1.0))
    assert((j \ "stats" \ "q_failed") == JNothing)
    // q_failed (no measurement) and q_breach (max >= gate) both fail the
    // gate; the breach ran steal-clean so the class is slow, not
    // contaminated
    assert((j \ "gate_class") == JString("slow"))
    assert((j \ "upscale" \ "error") == JString("boom  went the probe"))
    assert((j \ "layers" \ "q_failed") == JNothing,
      "a failed query has no layers entry")
    assert((j \ "layers" \ "q_nan" \ "plan_s") == JDouble(-1.0))
    assert((j \ "layers" \ "q_nan" \ "exec_s") == JDouble(-1.0))
    assert((j \ "layers" \ "q_ok" \ "jobs") == JDouble(1.0))
  }

  test("subset mode is marked and sorted") {
    val line = emit(Seq("q_b" -> Some(m(0.1)), "q_a" -> Some(m(0.2))),
      only = Set("q_b", "q_a"))
    val j = parsed(line)
    assert((j \ "subset") == JArray(List(JString("q_a"), JString("q_b"))))
  }
}
