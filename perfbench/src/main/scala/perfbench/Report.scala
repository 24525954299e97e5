package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation. Times are seconds since the timed phase began;
  * `intended` is when the operation was due (its schedule slot in an open
  * loop, its actual start otherwise), so latency counts queueing delay.
  */
final case class Op(phase: String, cls: String, intended: Double,
                    start: Double, end: Double, ok: Boolean)

/** Everything a run hands to `run.py`: the raw operations, the scalars
  * the end-to-end metrics derive from, and the traced per-layer values.
  * The statistics themselves (percentiles, the tail rule, open-loop lag)
  * are computed in Python, where they are unit-tested.
  */
final class Report(val workload: String) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  val scalars: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Output checks that failed, outside the per-operation ok flags. */
  val checkFailures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) checkFailures += what

  /** Wall-clock mark of a set-up step's end; run.py prints the split. */
  def mark(step: String): Unit =
    scalars(s"mark.$step") = System.currentTimeMillis() / 1000.0

  /** Record a timed phase's JVM, host and (traced) Spark counters;
    * `counted` is the number of operations the counters are divided by.
    */
  def record(p: Phase.Result, counted: Long): Unit = {
    scalars("counted_ops") = counted.toDouble
    scalars("heap_live_mb") = p.liveHeapMb
    scalars("gc_s") = p.gcS
    scalars("steal_s") = p.stealS
    scalars("alloc_mb") = p.allocMb
    p.spark.foreach { c =>
      Seq("jobs", "stages", "tasks", "task_cpu_ns", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
        .zip(c).foreach { case (k, v) => scalars(s"spark_$k") = v.toDouble }
    }
  }

  /** The report as JSON; a non-finite number becomes null. */
  def json: String = {
    def nums(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => k -> (if (v.isFinite) Double.box(v) else null) }.asJava
    Report.mapper.writeValueAsString(Map(
      "workload" -> workload,
      "ops" -> ops.map(o => Seq[Any](o.phase, o.cls, o.intended, o.start, o.end, o.ok)
        .asJava).asJava,
      "scalars" -> nums(scalars),
      "layers" -> nums(layers),
      "notes" -> notes.asJava,
      "check_failures" -> checkFailures.asJava).asJava)
  }
}

object Report {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def secs(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }
}
