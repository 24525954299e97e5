package perfbench

import org.apache.spark.scheduler._

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLongArray
import scala.jdk.CollectionConverters._

/** Counts what Spark's public listener bus reports: jobs, stages, tasks,
  * task CPU, scan input, shuffle and spill bytes. Registered only in
  * traced runs.
  */
final class SparkCounters extends SparkListener {
  // jobs, stages, tasks, cpu ns, input bytes, shuffle read, shuffle write, spill
  private val c = new AtomicLongArray(8)

  override def onJobStart(e: SparkListenerJobStart): Unit = { c.incrementAndGet(0); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { c.incrementAndGet(1); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.incrementAndGet(2)
    val m = e.taskMetrics
    if (m != null) {
      c.addAndGet(3, m.executorCpuTime)
      c.addAndGet(4, m.inputMetrics.bytesRead)
      c.addAndGet(5, m.shuffleReadMetrics.totalBytesRead)
      c.addAndGet(6, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(7, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Array[Long] = Array.tabulate(c.length())(c.get)
}

/** JVM and host counters sampled around a timed phase. */
object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap occupancy after a full collection forced now: what the process
    * retains, independent of when the collector last ran.
    */
  def liveHeapMb: Double = {
    System.gc()
    heapPools.map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Bytes allocated by live threads (threads that ended are not counted). */
  def allocatedBytes: Long = {
    val ids = threads.getAllThreadIds
    threads.getThreadAllocatedBytes(ids).filter(_ > 0).sum
  }

  /** Host CPU steal in seconds (all CPUs), from /proc/stat; 0 where absent. */
  def stealSeconds: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

/** Counter deltas over one timed phase. */
final class Phase(counters: Option[SparkCounters]) {
  private val gc0 = Jvm.gcMillis
  private val steal0 = Jvm.stealSeconds
  private val alloc0 = Jvm.allocatedBytes
  private val spark0 = counters.map(_.snapshot)

  /** Finish the phase: GC seconds, steal seconds, allocated MB, live heap
    * MB and the Spark counter deltas (empty when untraced).
    */
  def end(): Phase.Result = {
    // let the asynchronous listener bus catch up with the last tasks
    if (counters.isDefined) Thread.sleep(300)
    Phase.Result(
      gcS = (Jvm.gcMillis - gc0) / 1000.0,
      stealS = Jvm.stealSeconds - steal0,
      allocMb = (Jvm.allocatedBytes - alloc0) / 1048576.0,
      liveHeapMb = Jvm.liveHeapMb,
      spark = for (c <- counters; s0 <- spark0)
        yield c.snapshot.zip(s0).map { case (a, b) => a - b })
  }
}

object Phase {
  final case class Result(gcS: Double, stealS: Double, allocMb: Double,
                          liveHeapMb: Double, spark: Option[Array[Long]])
}
